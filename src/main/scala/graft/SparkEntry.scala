package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.NioLocalFileSystem
import graft.ops.{Cleansing, Dedup, Normalize, Tables, Windows}

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 (+ the north-star LLM-pipeline operators), each with an
  * equivalent DuckDB oracle SQL.
  *
  * Determinism rules (SURVEY.md §7.3, FIXTURES.md §3): every oracle-checked
  * query ends in an ORDER BY on a unique key; floating aggregates either
  * operate on integral-valued doubles (bit-exact in any summation order) or
  * are ROUNDed; no `monotonically_increasing_id`; session TZ is UTC.
  */
object SparkEntry {

  /** A query: the Spark implementation plus (optionally) the DuckDB oracle
    * SQL. `oracle=None` → driver records a weaker rows-only check (used for
    * ops whose semantics aren't SQL-expressible, e.g. LSH bucketing).
    */
  private case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  /** Per-invocation scratch dir for queries that round-trip through disk
    * (index writes, streaming sinks), registered for recursive deletion
    * at JVM exit so repeated bench/verify invocations don't accumulate
    * orphans under /tmp. Fresh per call — the dirs must stay fresh so
    * every bench repeat pays the full write+read cost (a reused
    * streaming checkpoint would silently skip the work being measured);
    * they only need to outlive the query's ACTION, hence exit-time
    * cleanup rather than eager deletion under the lazy DataFrame.
    */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { root =>
        try {
          import java.nio.file.{Files, Path}
          import java.util.Comparator
          Files.walk(root).sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      }))
  }
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(d)
    d
  }

  /** Per-JVM memoized index location for the STEADY-STATE gate rows
    * (`q_*_steady`): the build closure runs ONCE per (prefix, sf dir) —
    * under the bench policy that is the untimed warmup pass — and every
    * later invocation probes the stored artifacts only, which is what a
    * production user's query loop actually pays. The build-shaped
    * `q_*_indexed` rows deliberately keep the write inside the measured
    * query (they gate the rebuild path); splitting the two was the
    * round-13 measurement-honesty finding. Keyed on the sf dir so
    * verify/bench runs over different scale factors never share an
    * index; dirs are registered for the same exit-time cleanup as
    * [[scratchDir]].
    */
  private val steadyIndexes =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]
  private def steadyIndex(prefix: String, dir: String)(build: String => Unit): String =
    steadyIndexes.computeIfAbsent((prefix, dir), { _: (String, String) =>
      val p = scratchDir(prefix).resolve("idx").toString
      build(p)
      p
    })

  /** Session-memoized RESOLVED index handle — the stream-gate analogue
    * of [[steadyIndex]] (r16): the steady gate rows measure the
    * per-micro-batch production cost, so the once-per-stream handle
    * open (meta, tombstones, caps, pinning) joins the build on the
    * memoized side. Keyed on the index path, so different scale
    * factors / indexes never share a handle.
    */
  private val steadyHandles =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), AnyRef]
  private def steadyHandle[T <: AnyRef](s: SparkSession, key: String)(open: => T): T =
    // keyed by (session, path), not path alone: a handle pins
    // localCheckpoint RDDs of its owning SparkContext, and under
    // SPARK_GRAFT_BENCH_ISOLATE=tier sessions are stopped between tiers
    // — a path-only key could hand a later tier a handle whose RDDs
    // belong to a stopped context (ADVICE r16).
    steadyHandles.computeIfAbsent((s, key), { _: (SparkSession, String) => open })
      .asInstanceOf[T]

  /** Temporarily pin `spark.sql.shuffle.partitions` around a STATEFUL
    * streaming query. A stateful stream keeps state-store instances per
    * shuffle partition (a stream-stream join: four per partition), and
    * every micro-batch pays a commit per instance regardless of row
    * count — inheriting the batch default (sized for table scans)
    * multiplies that fixed cost. Measured on q_stream_attribution
    * (tools.StreamAttributionProbe, BASELINE.md round 12): 5.5 s wall /
    * 36 s summed state-store commit time at 32 partitions vs 1.8 s /
    * 0.5 s at 4, identical results. Production streaming jobs size
    * state partitions to stream volume for exactly this reason; the
    * gate streams are small, so 4 keeps the state machinery honestly
    * multi-partition without billing 128 commits per micro-batch. The
    * state-partition count is fixed at checkpoint creation, so the pin
    * only needs to cover `start()`; restored before the read-back.
    */
  private def withStreamShuffle[T](s: SparkSession, n: Int = 4)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // Deterministic total order for lineitem rows. NOTE: in this synthetic
  // data (l_orderkey, l_linenumber) is NOT unique — the verified unique key
  // is (l_orderkey, l_linenumber, l_partkey, l_suppkey). Every oracle query
  // over row-level lineitem output must order by enough columns to induce a
  // total order on its *output* columns.
  private val liKey: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  // ---------------------------------------------------------------------
  // §2.1 scans + §2.3 filters
  // ---------------------------------------------------------------------

  private val qS1 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      Cleansing
        .selectColumns(li, Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"))
        .filter(col("l_quantity") > 45) // pushed to the parquet scan
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem WHERE l_quantity > 45
            ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice"""))

  /** S2 recursive prefix scan ([[graft.ops.Tables.readRecursive]]): the
    * supplier table is laid out as a multi-file raw/ prefix — two nested
    * subdirectories, each holding a parquet part of the split — and read
    * back through the recursive scan, which must surface every file
    * under the prefix regardless of nesting (`_SUCCESS` markers and all).
    * The oracle is simply the whole table: a recursive scan that drops
    * or double-reads a file fails the row count/hash.
    */
  private val qS2 = Q(
    (s, dir) => {
      val sup = t(s, dir, "supplier")
      val p = scratchDir("graft_s2_raw")
      NioLocalFileSystem.write(sup.filter(col("s_suppkey") % 2 === 0))
        .parquet(p.resolve("d1").resolve("inner").toString)
      NioLocalFileSystem.write(sup.filter(col("s_suppkey") % 2 =!= 0))
        .parquet(p.resolve("d2").toString)
      graft.ops.Tables.readRecursive(s, p.toString)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name, s_nationkey, s_acctbal
            FROM supplier ORDER BY s_suppkey"""))

  /** S3 catalog table scan ([[graft.ops.Tables.readTable]]): a
    * saveAsTable → read-back round trip through the session catalog —
    * what the reference's catalog-table reads do — hashed against the
    * source table, so catalog registration, schema persistence and the
    * managed-table read path are all on the verified line. The database
    * lives at a per-JVM scratch location (exit-cleaned): the default
    * warehouse dir persists across sessions while the in-memory catalog
    * does not, so a fresh session's overwrite would take the CREATE path
    * and collide with the previous JVM's orphaned table directory.
    */
  private lazy val s3DbLoc = scratchDir("graft_s3_db").toString
  private val qS3 = Q(
    (s, dir) => {
      val nat = t(s, dir, "nation")
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_s3 LOCATION '$s3DbLoc'")
      // stock filesystem: the table would persist the writer options
      nat.write.mode("overwrite").saveAsTable("graft_s3.nation_cat")
      graft.ops.Tables.readTable(s, "graft_s3.nation_cat")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name, n_regionkey
            FROM nation ORDER BY n_nationkey"""))

  private val qF1 = Q(
    (s, dir) => {
      val li = Cleansing.filterNotNull(t(s, dir, "lineitem"), Seq("l_returnflag", "l_shipdate"))
      li.agg(count(lit(1)).as("n"))
    },
    Some("""SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem
            WHERE l_returnflag IS NOT NULL AND l_shipdate IS NOT NULL"""))

  // ---------------------------------------------------------------------
  // §2.2 projection / rename; §2.7 A1 non-null counts
  // ---------------------------------------------------------------------

  private val qP1 = Q(
    (s, dir) => {
      val o = t(s, dir, "orders")
      Cleansing
        .renameColumns(
          Cleansing.selectColumns(o, Seq("o_orderkey", "o_orderstatus", "o_totalprice")),
          Map("o_orderkey" -> "order_id", "o_orderstatus" -> "status", "o_totalprice" -> "total"))
        .orderBy("order_id")
    },
    Some("""SELECT o_orderkey AS order_id, o_orderstatus AS status, o_totalprice AS total
            FROM orders ORDER BY order_id"""))

  private val qA1 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select(li.columns.map(c => count(col(c)).alias(s"nn_$c")).toSeq: _*)
    },
    Some("""SELECT CAST(count(l_orderkey) AS BIGINT) AS nn_l_orderkey,
                   CAST(count(l_partkey) AS BIGINT) AS nn_l_partkey,
                   CAST(count(l_suppkey) AS BIGINT) AS nn_l_suppkey,
                   CAST(count(l_linenumber) AS BIGINT) AS nn_l_linenumber,
                   CAST(count(l_quantity) AS BIGINT) AS nn_l_quantity,
                   CAST(count(l_extendedprice) AS BIGINT) AS nn_l_extendedprice,
                   CAST(count(l_discount) AS BIGINT) AS nn_l_discount,
                   CAST(count(l_tax) AS BIGINT) AS nn_l_tax,
                   CAST(count(l_returnflag) AS BIGINT) AS nn_l_returnflag,
                   CAST(count(l_linestatus) AS BIGINT) AS nn_l_linestatus,
                   CAST(count(l_shipdate) AS BIGINT) AS nn_l_shipdate
            FROM lineitem"""))

  /** P2 dynamic all-null column drop: testdata has no all-null column, so we
    * inject one ("ghost") and return the pruned frame's kept columns — one
    * row per kept name, sorted. The pruned *frame* has a data-dependent
    * schema, but the *decision* does not: the oracle replays it from
    * per-column non-null counts (`etl/transform_1.py:50-55`). Frame-schema
    * behavior itself stays unit-tested (OpsSpec / PipelineSpec).
    */
  private val qP2 = Q(
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem").withColumn("ghost", lit(null).cast(DoubleType))
      val pruned = Cleansing.pruneAllNullColumns(li, essential = Set("l_orderkey"))
      pruned.columns.sorted.toSeq.toDF("kept_column").orderBy("kept_column")
    },
    Some("""WITH counts AS (
              SELECT count(l_orderkey) AS l_orderkey, count(l_partkey) AS l_partkey,
                     count(l_suppkey) AS l_suppkey, count(l_linenumber) AS l_linenumber,
                     count(l_quantity) AS l_quantity, count(l_extendedprice) AS l_extendedprice,
                     count(l_discount) AS l_discount, count(l_tax) AS l_tax,
                     count(l_returnflag) AS l_returnflag, count(l_linestatus) AS l_linestatus,
                     count(l_shipdate) AS l_shipdate,
                     count(CAST(NULL AS DOUBLE)) AS ghost
              FROM lineitem),
            cols AS (
              SELECT 'l_orderkey' AS kept_column, l_orderkey AS cnt, TRUE AS essential FROM counts
              UNION ALL SELECT 'l_partkey', l_partkey, FALSE FROM counts
              UNION ALL SELECT 'l_suppkey', l_suppkey, FALSE FROM counts
              UNION ALL SELECT 'l_linenumber', l_linenumber, FALSE FROM counts
              UNION ALL SELECT 'l_quantity', l_quantity, FALSE FROM counts
              UNION ALL SELECT 'l_extendedprice', l_extendedprice, FALSE FROM counts
              UNION ALL SELECT 'l_discount', l_discount, FALSE FROM counts
              UNION ALL SELECT 'l_tax', l_tax, FALSE FROM counts
              UNION ALL SELECT 'l_returnflag', l_returnflag, FALSE FROM counts
              UNION ALL SELECT 'l_linestatus', l_linestatus, FALSE FROM counts
              UNION ALL SELECT 'l_shipdate', l_shipdate, FALSE FROM counts
              UNION ALL SELECT 'ghost', ghost, FALSE FROM counts)
            SELECT kept_column FROM cols WHERE essential OR cnt > 0
            ORDER BY kept_column"""))

  // ---------------------------------------------------------------------
  // §2.6 sanitizer casts (dirty inputs synthesized so the oracle can
  // reproduce them — FIXTURES.md §3)
  // ---------------------------------------------------------------------

  private val qC3 = Q(
    (s, dir) => {
      val dirty = regexp_replace(col("l_quantity").cast(StringType), "\\.", ",")
      // No layout-compensating shuffle: on a real lake the scan stage is
      // already parallel (one task per file split), so the per-row string
      // work runs at scan speed. Single-file inputs serialize the scan —
      // bench against a multi-file layout (tools.MultiFileFixture), don't
      // add a repartition a 100-TB user would pay for.
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Cleansing.commaDecimalToDouble(dirty).as("qty_clean"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty_clean"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
                   TRY_CAST(REPLACE(REPLACE(CAST(l_quantity AS VARCHAR), '.', ','), ',', '.') AS DOUBLE) AS qty_clean
            FROM lineitem ORDER BY l_orderkey, l_linenumber, qty_clean"""))

  private val qC4 = Q(
    (s, dir) => {
      // "17,000"-style thousands-formatted string, as arrives in the raw
      // feed (`transform_1.py:71`); strip + cast recovers the exact long.
      val dirty = format_number(col("l_quantity") * 1000, 0)
      // no layout-compensating shuffle — see qC3
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Cleansing.formattedToLong(dirty).as("qty_scaled"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty_scaled"))
    },
    Some("""SELECT l_orderkey, l_linenumber, CAST(l_quantity * 1000 AS BIGINT) AS qty_scaled
            FROM lineitem ORDER BY l_orderkey, l_linenumber, qty_scaled"""))

  // ---------------------------------------------------------------------
  // §2.5 null handling
  // ---------------------------------------------------------------------

  private val qN1 = Q(
    (s, dir) => {
      val e = Tables.readEvents(s, dir)
        .withColumn("etype", when(col("event_type") === "error", lit(null)).otherwise(col("event_type")))
        .withColumn("val", when(col("value") < 1.0, lit(null)).otherwise(col("value")))
      Cleansing.fillDefaults(e, Map("etype" -> "UNKNOWN", "val" -> 0.0))
        .select("event_id", "etype", "val")
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
                   COALESCE(NULLIF(event_type, 'error'), 'UNKNOWN') AS etype,
                   COALESCE(CASE WHEN value < 1.0 THEN NULL ELSE value END, 0.0) AS val
            FROM events ORDER BY event_id"""))

  private val qN2 = Q(
    (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("d", when(col("o_orderkey") % 97 === 0, lit(null).cast(TimestampType))
          .otherwise(col("o_orderdate")))
        .withColumn("d", Cleansing.formatPartitionDate(col("d")))
      Cleansing.fillSentinelDate(o, "d")
        .select("o_orderkey", "d")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey,
                   COALESCE(CASE WHEN o_orderkey % 97 = 0 THEN NULL
                                 ELSE strftime(o_orderdate, '%Y-%m-%d') END,
                            '1970-01-01') AS d
            FROM orders ORDER BY o_orderkey"""))

  // ---------------------------------------------------------------------
  // §2.4 deduplication
  // ---------------------------------------------------------------------

  private val qD1 = Q(
    (s, dir) =>
      Dedup.dropExact(t(s, dir, "lineitem").select("l_returnflag", "l_linestatus"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
            ORDER BY l_returnflag, l_linestatus"""))

  private val qD2 = Q(
    (s, dir) =>
      Dedup.keepFirst(t(s, dir, "lineitem"), Seq("l_orderkey"),
          Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey"),
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
            FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                                               ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
                  FROM lineitem)
            WHERE rn = 1 ORDER BY l_orderkey"""))

  // ---------------------------------------------------------------------
  // §2.8 windows — the analytical core. Rolling stats run on l_quantity
  // (integral-valued doubles): bounded-frame sums of integers are exact in
  // IEEE754 regardless of add/remove order, so Spark's incremental frame
  // and DuckDB's segment tree produce bit-identical results.
  // ---------------------------------------------------------------------

  // Window order within an l_suppkey partition: (l_orderkey, l_linenumber,
  // l_partkey) completes the unique key once l_suppkey is fixed.
  private def liOrder: Seq[Column] =
    Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_partkey"))

  private val qW1 = Q(
    (s, dir) => {
      val w = Windows.rolling(Seq(col("l_suppkey")), liOrder, 7)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(Windows.rollingAvg(col("l_quantity"), w), 6).as("avg_qty_7"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("avg_qty_7"))
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
                   ROUND(AVG(l_quantity) OVER (PARTITION BY l_suppkey
                                               ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
                                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS avg_qty_7
            FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber, avg_qty_7"""))

  private val qW2 = Q(
    (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
          Windows.groupTotal(col("l_quantity"), Seq(col("l_returnflag"), col("l_linestatus")))
            .as("group_qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
                   SUM(l_quantity) OVER (PARTITION BY l_returnflag, l_linestatus) AS group_qty
            FROM lineitem ORDER BY l_orderkey, l_linenumber, l_returnflag, l_linestatus"""))

  private val qW3 = Q(
    (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("rn", Windows.rowNumber(Seq(col("l_returnflag")),
          Seq(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber"))))
        .filter(col("rn") <= 3)
        .select("l_returnflag", "rn", "l_orderkey", "l_linenumber")
        .orderBy("l_returnflag", "rn"),
    Some("""SELECT l_returnflag, CAST(rn AS INTEGER) AS rn, l_orderkey, l_linenumber
            FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                               ORDER BY l_quantity DESC, l_orderkey, l_linenumber) AS rn
                  FROM lineitem)
            WHERE rn <= 3 ORDER BY l_returnflag, rn"""))

  private val qW4 = Q(
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn("initial_date",
          Cleansing.formatPartitionDate(Windows.perKeyMin(col("o_orderdate"), Seq(col("o_custkey")))))
        .select("o_custkey", "initial_date")
        .distinct()
        .orderBy("o_custkey"),
    Some("""SELECT DISTINCT o_custkey,
                   strftime(MIN(o_orderdate) OVER (PARTITION BY o_custkey), '%Y-%m-%d') AS initial_date
            FROM orders ORDER BY o_custkey"""))

  /** W5-W9 rolling stats bundle, full frames only. Median is the exact
    * middle of the 7-row frame (both engines agree on odd frames); stddev is
    * a hand-rolled sum/sum-of-squares formula so both engines perform the
    * identical IEEE754 operations on exact integer window sums — bit-equal,
    * unlike stddev_samp whose accumulation algorithm is engine-specific.
    */
  private val qW5 = Q(
    (s, dir) => {
      val w = Windows.rolling(Seq(col("l_suppkey")), liOrder, 7)
      val x = col("l_quantity")
      val sumX = sum(x).over(w)
      val sumX2 = sum(x * x).over(w)
      val cnt = count(x).over(w)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(Windows.rollingAvg(x, w), 6).as("mean_qty_7"),
          Windows.rollingMedianExact(x, w).as("median_qty_7"),
          round(sqrt((sumX2 - sumX * sumX / 7.0) / 6.0), 6).as("std_qty_7"),
          Windows.rollingMax(x, w).as("max_qty_7"),
          Windows.rollingMin(x, w).as("min_qty_7"),
          cnt.as("nrows"))
        .filter(col("nrows") === 7)
        .drop("nrows")
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("mean_qty_7"), col("median_qty_7"), col("std_qty_7"))
    },
    Some("""WITH win AS (
              SELECT l_suppkey, l_orderkey, l_linenumber,
                     AVG(l_quantity) OVER w AS mean_qty_7,
                     QUANTILE_DISC(l_quantity, 0.5) OVER w AS median_qty_7,
                     SUM(l_quantity * l_quantity) OVER w AS sx2,
                     SUM(l_quantity) OVER w AS sx,
                     MAX(l_quantity) OVER w AS max_qty_7,
                     MIN(l_quantity) OVER w AS min_qty_7,
                     COUNT(l_quantity) OVER w AS nrows
              FROM lineitem
              WINDOW w AS (PARTITION BY l_suppkey
                           ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   ROUND(mean_qty_7, 6) AS mean_qty_7,
                   median_qty_7,
                   ROUND(SQRT((sx2 - sx * sx / 7.0) / 6.0), 6) AS std_qty_7,
                   max_qty_7, min_qty_7
            FROM win WHERE nrows = 7
            ORDER BY l_suppkey, l_orderkey, l_linenumber, mean_qty_7, median_qty_7, std_qty_7"""))

  // ---------------------------------------------------------------------
  // Beyond the reference (SURVEY.md §2.12 gaps): groupBy aggregation,
  // joins, top-k — table stakes for a complete engine.
  // ---------------------------------------------------------------------

  private val qAgg1 = Q(
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"), // integral doubles: exact
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base,
                   ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  private val qJoin1 = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // customer is the small dimension: broadcast it so the li⋈o shuffle is
      // the only exchange. At cluster scale AQE would pick this too; the
      // hint makes it explicit.
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          sum("l_quantity").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment,
                   SUM(l_quantity) AS sum_qty,
                   ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  private val qTopK = Q(
    (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))

  // ---------------------------------------------------------------------
  // General-engine breadth (SURVEY.md §2.12 gaps): set operations,
  // grouping sets/rollup, pivot, explode with position, deterministic
  // per-key sampling — operators a user of a complete engine expects even
  // though the reference never exercised them.
  // ---------------------------------------------------------------------

  private val qSetOps = Q(
    (s, dir) => {
      val oKeys = t(s, dir, "orders").select(col("o_orderkey").as("k"))
      val liKeys = t(s, dir, "lineitem").select(col("l_orderkey").as("k"))
      val except = oKeys.except(liKeys).withColumn("op", lit("except"))
      val intersect = oKeys.intersect(liKeys).withColumn("op", lit("intersect"))
        .orderBy("k").limit(100)
      except.unionByName(intersect).orderBy("op", "k")
    },
    Some("""WITH e AS (SELECT o_orderkey AS k FROM orders
                       EXCEPT SELECT l_orderkey FROM lineitem),
                 i AS (SELECT DISTINCT o_orderkey AS k FROM orders
                       INTERSECT SELECT l_orderkey FROM lineitem
                       ORDER BY k LIMIT 100)
            SELECT k, 'except' AS op FROM e
            UNION ALL SELECT k, 'intersect' AS op FROM i
            ORDER BY op, k"""))

  /** lag/lead deltas: previous/next quantity per supplier over the
    * deterministic ship order — the delta/velocity primitive.
    */
  private val qLagLead = Q(
    (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"),
          Windows.lagOver(col("l_quantity"), 1, Seq(col("l_suppkey")), liOrder).as("prev_qty"),
          Windows.leadOver(col("l_quantity"), 1, Seq(col("l_suppkey")), liOrder).as("next_qty"))
        .withColumn("delta", col("l_quantity") - col("prev_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("prev_qty"), col("next_qty")),
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
                   lag(l_quantity) OVER w AS prev_qty,
                   lead(l_quantity) OVER w AS next_qty,
                   l_quantity - lag(l_quantity) OVER w AS delta
            FROM lineitem
            WINDOW w AS (PARTITION BY l_suppkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey)
            ORDER BY l_suppkey, l_orderkey, l_linenumber, l_quantity, prev_qty, next_qty"""))

  /** True time-window rolling sum: RANGE frame over days-since-epoch — a
    * calendar "last 7 days" window (sparse dates contribute nothing),
    * semantically different from the 7-ROW frames of W1/W5.
    */
  private val qRangeFrame = Q(
    (s, dir) => {
      val days = datediff(col("l_shipdate"), lit("1970-01-01").cast(DateType))
      val w = Windows.rollingRange(Seq(col("l_suppkey")), col("epoch_day"), 6L)
      t(s, dir, "lineitem")
        .withColumn("epoch_day", days)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("epoch_day"),
          sum(col("l_quantity")).over(w).as("qty_7cal_days"),
          count(lit(1)).over(w).as("n_in_range"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("epoch_day"), col("qty_7cal_days"))
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
                   date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS epoch_day,
                   SUM(l_quantity) OVER w AS qty_7cal_days,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_in_range
            FROM lineitem
            WINDOW w AS (PARTITION BY l_suppkey
                         ORDER BY date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY l_suppkey, l_orderkey, l_linenumber, epoch_day, qty_7cal_days"""))

  /** Full grouping-sets lattice (cube) — rollup's big sibling. */
  private val qCube = Q(
    (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  private val qRollup = Q(
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""))

  private val qPivot = Q(
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum("l_quantity"))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
                   SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_f,
                   SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_o
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val qExplode = Q(
    (s, dir) => {
      import graft.text.TextAnalysis.tokens
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        .orderBy("doc_id", "pos")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents WHERE doc_id < 50),
                 e AS (SELECT doc_id, toks,
                              unnest(generate_series(1, len(toks))) AS i FROM t)
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
            FROM e ORDER BY doc_id, pos"""))

  /** Deterministic per-key sampling: bottom-k by a content-derived hash
    * priority — the distributed, rerun-stable "take k docs per source"
    * every training-data pipeline needs. md5 priority so the oracle can
    * replay it.
    */
  private val qSamplePerKey = Q(
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("rk", Windows.rowNumber(Seq(col("source")),
          Seq(md5(to_binary(col("doc_id").cast(StringType), lit("utf-8"))), col("doc_id"))))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk"), col("doc_id"))
        .orderBy("source", "rk"),
    Some("""SELECT source, CAST(rk AS INTEGER) AS rk, doc_id
            FROM (SELECT source, doc_id,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
                  FROM documents)
            WHERE rk <= 5 ORDER BY source, rk"""))

  /** Weighted per-key sampling (A-ES with fixed md5 priorities —
    * [[graft.ops.Sampling]]): weight-proportional without replacement.
    * The SELECTION (keys, ranks, ids) is oracle-replayable — u =
    * (md5Long(id)+1)/2⁶⁰ is exact arithmetic and the ln-priority is
    * rounded to 9 dp with an id tie-break before ranking, so last-ulp
    * libm differences cannot flip it. The priority VALUE is deliberately
    * NOT emitted: Spark's round (BigDecimal HALF_UP on shortest-decimal)
    * and DuckDB's double-domain ROUND can disagree in the 9th digit, so
    * the hashed contract is ids/ranks only (see [[graft.ops.Sampling]]).
    */
  private val qSampleWeighted = Q(
    (s, dir) =>
      graft.ops.Sampling.weightedSamplePerKey(t(s, dir, "orders"),
        Seq("o_orderpriority"), "o_orderkey", "o_totalprice", k = 20)
        .select(col("o_orderpriority"), col("rk"), col("o_orderkey"))
        .orderBy("o_orderpriority", "rk"),
    Some(s"""WITH pri AS (
              SELECT o_orderpriority, o_orderkey,
                     ROUND(ln((${md5LongSql("CAST(o_orderkey AS VARCHAR)")} + 1)::DOUBLE
                              / 1152921504606846976.0) / o_totalprice, 9) AS ares_priority
              FROM orders WHERE o_totalprice > 0),
            r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                                               ORDER BY ares_priority DESC, o_orderkey) AS rk
                  FROM pri)
            SELECT o_orderpriority, CAST(rk AS INTEGER) AS rk, o_orderkey
            FROM r WHERE rk <= 20 ORDER BY o_orderpriority, rk"""))

  /** Proportional stratified sampling: ceil(12.5%) of every source
    * stratum by deterministic md5 order. frac = 0.125 is deliberately
    * dyadic — frac × count is exact IEEE arithmetic, so the ceil
    * boundary replays in any engine (a decimal frac like 0.1 promotes to
    * DECIMAL in DuckDB and double in Spark, which can disagree at the
    * boundary).
    */
  private val qSampleStratified = Q(
    (s, dir) =>
      graft.ops.Sampling.stratifiedSample(t(s, dir, "documents"),
        Seq("source"), "doc_id", frac = 0.125)
        .select(col("source"), col("rk"), col("doc_id"))
        .orderBy("source", "rk"),
    Some("""WITH r AS (SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
                     COUNT(*) OVER (PARTITION BY source) AS cnt
              FROM documents)
            SELECT source, CAST(rk AS INTEGER) AS rk, doc_id
            FROM r WHERE rk <= CEIL(0.125 * cnt) ORDER BY source, rk"""))

  /** Token-budget mixing: per-source documents in deterministic md5 order
    * until 2000 tokens — the "N tokens per domain" mixture step of a
    * training-set build. Pure integer arithmetic (running sum of token
    * counts), fully replayable.
    */
  /** Deterministic split assignment ([[graft.ops.Sampling.assignSplit]]):
    * 80/10/10 train/val/test on documents by doc_id md5 bucket. The
    * oracle replays the bucket arithmetic and the threshold CASE, so the
    * ASSIGNMENT (per-split id-sums, not just sizes) is proven
    * engine-independent — the property that makes the split stable under
    * data growth.
    */
  private val qSplitAssign = Q(
    (s, dir) =>
      graft.ops.Sampling.assignSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        // MODULAR id-checksum: a raw sum(doc_id) overflows ANSI long the
        // moment ids carry a partition stride (the 100× soak's
        // replica × 10¹² shift did) — n × 10⁹ stays in range to ~10⁹ rows
        // per split
        .agg(count(lit(1)).as("n"), sum(col("doc_id") % 1000000007L).as("sum_id"))
        .orderBy("split"),
    Some(s"""WITH b AS (
              SELECT doc_id,
                     ${md5LongSql("CAST(doc_id AS VARCHAR)")} % 1000000 AS bucket
              FROM documents)
            SELECT CASE WHEN bucket < 800000 THEN 'train'
                        WHEN bucket < 900000 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(doc_id % 1000000007) AS BIGINT) AS sum_id
            FROM b GROUP BY 1 ORDER BY split"""))

  /** Leakage-safe group split ([[graft.ops.Sampling.assignGroupSplit]]):
    * split assignment hashed on SOURCE, so every document of a source
    * lands in one split (per-(source, split) counts — the result rows
    * themselves witness the no-straddle property: one split per source).
    */
  private val qGroupSplit = Q(
    (s, dir) =>
      graft.ops.Sampling.assignGroupSplit(t(s, dir, "documents"), "source",
          Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"),
          sum(col("doc_id") % 1000000007L).as("sum_id"))
        .orderBy("source", "split"),
    Some(s"""WITH b AS (
              SELECT doc_id, source,
                     ${md5LongSql("source")} % 1000000 AS bucket
              FROM documents)
            SELECT source,
                   CASE WHEN bucket < 600000 THEN 'train'
                        WHEN bucket < 800000 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(doc_id % 1000000007) AS BIGINT) AS sum_id
            FROM b GROUP BY 1, 2 ORDER BY source, split"""))

  /** Near-dup-safe split ([[graft.ops.Sampling.nearDupSafeSplit]]):
    * split assignment hashed on the near-dup CLUSTER id, so two
    * near-identical documents can never straddle train/test (the
    * classic eval leak a doc-id hash split commits per near-dup pair).
    * One result row per (cluster, split) — the output shape itself
    * witnesses the no-straddle property. The oracle replays the whole
    * chain: LSH pairs → recursive-CTE connected components → cluster
    * hash buckets → per-cluster counts and id checksums.
    */
  private val qSplitNearDupSafe = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val pairs = graft.dedup.NearDup.minHashLsh(
        docs, "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
      graft.ops.Sampling.nearDupSafeSplit(docs, "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("cluster_id", "split")
        .agg(count(lit(1)).as("n"), sum(col("doc_id") % 1000000007L).as("sum_id"))
        .orderBy("cluster_id", "split")
    },
    Some(s"""WITH RECURSIVE base AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 1000),
            ${minHashPairsCtes(bands = 4, rowsPerBand = 4, threshold = 0.9, maxBucket = 1000)},
            e AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (SELECT src, src FROM e
                             UNION
                             SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
            ccm AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
            cl AS (SELECT b.id, COALESCE(ccm.cluster_id, b.id) AS cluster_id
                   FROM base b LEFT JOIN ccm ON ccm.id = b.id),
            bk AS (SELECT id, cluster_id,
                          ${md5LongSql("CAST(cluster_id AS VARCHAR)")} % 1000000 AS bucket
                   FROM cl)
            SELECT cluster_id,
                   CASE WHEN bucket < 800000 THEN 'train'
                        WHEN bucket < 900000 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(id % 1000000007) AS BIGINT) AS sum_id
            FROM bk GROUP BY 1, 2 ORDER BY cluster_id, split"""))

  /** Duplication-aware SOFT-dedup weights ([[graft.ops.Sampling
    * .dupAwareWeights]]): every member of a near-dup family downweighted
    * by the family size (`1e6 div cluster_n`, truncating integer
    * division — exact on both engines) so each family carries ~unit
    * sampling mass instead of being dropped. The oracle replays LSH
    * pairs → recursive-CTE connected components → cluster sizes → the
    * integer division, so the weights are proven end-to-end.
    */
  private val qDupAwareWeights = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val pairs = graft.dedup.NearDup.minHashLsh(
        docs, "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
      graft.ops.Sampling.dupAwareWeights(docs, "doc_id", pairs)
        .orderBy("id")
    },
    Some(s"""WITH RECURSIVE base AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 1000),
            ${minHashPairsCtes(bands = 4, rowsPerBand = 4, threshold = 0.9, maxBucket = 1000)},
            e AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (SELECT src, src FROM e
                             UNION
                             SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
            ccm AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
            cl AS (SELECT b.id, COALESCE(ccm.cluster_id, b.id) AS cluster_id
                   FROM base b LEFT JOIN ccm ON ccm.id = b.id),
            sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_n
                      FROM cl GROUP BY 1)
            SELECT cl.id, cl.cluster_id, s.cluster_n,
                   CAST(1000000 AS BIGINT) // s.cluster_n AS weight_micro
            FROM cl JOIN sizes s ON s.cluster_id = cl.cluster_id
            ORDER BY cl.id"""))

  /** Temperature mixing ([[graft.ops.Sampling.temperatureMix]]): α = 0.5
    * source reweighting of documents under a 300-doc budget. The oracle
    * replays the whole budget derivation — sqrt weights (IEEE
    * correctly-rounded, engine-identical), an ORDERED cumulative
    * denominator, integer floor budgets — and the md5-order fill.
    */
  private val qMixTemperature = Q(
    (s, dir) =>
      graft.ops.Sampling.temperatureMix(
          t(s, dir, "documents").select("source", "doc_id"),
          "source", "doc_id", alpha = 0.5, totalBudget = 300L)
        .select(col("source"), col("doc_id"), col("mix_budget"), col("mix_rk"))
        .orderBy("source", "doc_id"),
    Some("""WITH c AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
            w AS (
              SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS wgt,
                     SUM(sqrt(CAST(n AS DOUBLE))) OVER (ORDER BY source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wsum
              FROM c),
            bud AS (
              SELECT source,
                     LEAST(CAST(FLOOR(300.0 * wgt / (SELECT MAX(wsum) FROM w)) AS BIGINT), n)
                       AS mix_budget
              FROM w),
            r AS (
              SELECT d.source, d.doc_id, bud.mix_budget,
                     CAST(row_number() OVER (PARTITION BY d.source
                       ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS INT) AS mix_rk
              FROM documents d JOIN bud USING (source))
            SELECT source, doc_id, mix_budget, mix_rk
            FROM r WHERE mix_rk <= mix_budget
            ORDER BY source, doc_id"""))

  private val qTokenBudget = Q(
    (s, dir) => {
      import graft.text.TextAnalysis
      graft.ops.Sampling.tokenBudgetPerKey(
        t(s, dir, "documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast(LongType)),
        Seq("source"), "doc_id", "n_tokens", budget = 2000L)
        .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy("source", "doc_id")
    },
    Some("""WITH d AS (SELECT source, doc_id,
                     len(string_split(text, ' ')) AS n_tokens FROM documents),
            c AS (SELECT source, doc_id, n_tokens,
                     SUM(n_tokens) OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS cum
                  FROM d)
            SELECT source, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(cum AS BIGINT) AS cum_tokens
            FROM c WHERE cum <= 2000 ORDER BY source, doc_id"""))

  /** Interval-containment join ([[graft.ops.RangeJoin]]): lineitem ship
    * dates against 30-day order-derived windows, bucketed on a 30-day
    * grid so the containment predicate runs as a hash equi-join + residual
    * — never the BroadcastNestedLoopJoin a raw theta join plans. The
    * oracle is the naive theta join: the bucketing must be invisible in
    * the result.
    */
  private val qRangeJoin = Q(
    (s, dir) => {
      val wins = t(s, dir, "orders").filter(col("o_orderkey") % 199 === 0)
        .select(col("o_orderkey").as("win_id"),
          col("o_orderpriority").as("priority"),
          col("o_orderdate").as("ws"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("we"))
      val li = t(s, dir, "lineitem").select(col("l_shipdate"), col("l_quantity"))
      val joined = graft.ops.RangeJoin.bucketedRangeJoin(
        li, "l_shipdate", wins, "ws", "we",
        widthMicros = 30L * 86400L * 1000000L)
        .groupBy("win_id", "priority")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      wins.select("win_id", "priority")
        .join(joined, Seq("win_id", "priority"), "left")
        .select(col("win_id"), col("priority"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("sum_qty"), lit(0.0)).as("sum_qty"))
        .orderBy("win_id")
    },
    Some("""WITH win AS (SELECT o_orderkey AS win_id, o_orderpriority AS priority,
                   o_orderdate AS ws, o_orderdate + INTERVAL 30 DAY AS we
            FROM orders WHERE o_orderkey % 199 = 0)
            SELECT w.win_id, w.priority,
                   CAST(COUNT(l.l_quantity) AS BIGINT) AS n,
                   COALESCE(SUM(l.l_quantity), 0.0) AS sum_qty
            FROM win w LEFT JOIN lineitem l
              ON l.l_shipdate >= w.ws AND l.l_shipdate < w.we
            GROUP BY 1, 2 ORDER BY win_id"""))

  /** Distribution-rank features (ntile / percent_rank / cume_dist) — the
    * per-stratum normalized-rank features of a feature pipeline. All three
    * are exact rational arithmetic over ranks with a unique ordering key,
    * so the doubles are bit-identical across engines (no rounding needed).
    */
  private val qRankFeatures = Q(
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("tile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderpriority,
                   CAST(ntile(4) OVER w AS INTEGER) AS tile,
                   percent_rank() OVER w AS pct_rank,
                   cume_dist() OVER w AS cume
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
            ORDER BY o_orderkey"""))

  // ---------------------------------------------------------------------
  // Flagship composite: the reference's full transform_1.py chain
  // (sanitize → guard → dedup → initial date → rolling stats) replayed on
  // lineitem — every stage is the library operator, end-to-end in one
  // lazy plan (SURVEY.md §3 EP2).
  // ---------------------------------------------------------------------

  private val qPipeline = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("code", col("l_suppkey"))
        .withColumn("reference_date", Cleansing.formatPartitionDate(col("l_shipdate")))
      val guarded = Cleansing.filterNotNull(li, Seq("code", "reference_date"))
      // one exchange for the whole chain: the ShareWindowExchange rule
      // (active via GraftExtensions in Verify/Bench/test sessions) inserts
      // a hash(code) repartition below the innermost window — hash(code)
      // satisfies the ClusteredDistribution of BOTH the
      // (code, reference_date) dedup window and the (code) analytic
      // windows (subset rule). PlanAuditSpec asserts the single exchange.
      val deduped = Dedup.keepFirst(guarded, Seq("code", "reference_date"),
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey")))
      // dirty-input synthesis + sanitizer casts (the oracle reproduces
      // them) run AFTER the exchange: dedup keeps whole rows, so deriving
      // from the kept row is value-identical — and the regex/format work
      // lands on every core instead of inside the scan stage, which for a
      // single-row-group parquet file is one thread no matter the cluster.
      val sane = deduped
        .withColumn("part", Cleansing.commaDecimalToDouble(
          regexp_replace(col("l_discount").cast(StringType), "\\.", ",")))
        .withColumn("qty", Cleansing.formattedToLong(
          format_number(col("l_quantity") * 1000, 0)))
      val withInitial = sane.withColumn("initial_date",
        Windows.perKeyMin(col("reference_date"), Seq(col("code"))))
      val w = Windows.rolling(Seq(col("code")), Seq(col("reference_date")), 7)
      val x = col("part")
      withInitial
        .withColumn("mean_part_7_days", round(Windows.rollingAvg(x, w), 6))
        .withColumn("median_part_7_days", Windows.rollingMedianExact(x, w))
        // Windows.rollingStddevExact IS the oracle's expression shape
        // (exact sums, NULL 1-row frames, 0-clamp): library and proven
        // query share one definition — PipelineSpec pins the equality.
        .withColumn("std_part_7_days", round(Windows.rollingStddevExact(x, w), 6))
        .withColumn("max_part_7_days", Windows.rollingMax(x, w))
        .withColumn("min_part_7_days", Windows.rollingMin(x, w))
        .select("code", "reference_date", "part", "qty", "initial_date",
          "mean_part_7_days", "median_part_7_days", "std_part_7_days",
          "max_part_7_days", "min_part_7_days")
        .orderBy("code", "reference_date")
    },
    Some("""WITH raw AS (
              SELECT l_suppkey AS code,
                     strftime(l_shipdate, '%Y-%m-%d') AS reference_date,
                     l_orderkey, l_linenumber, l_partkey,
                     TRY_CAST(REPLACE(REPLACE(CAST(l_discount AS VARCHAR), '.', ','), ',', '.') AS DOUBLE) AS part,
                     CAST(l_quantity * 1000 AS BIGINT) AS qty
              FROM lineitem
              WHERE l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL),
            deduped AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY code, reference_date
                                             ORDER BY l_orderkey, l_linenumber, l_partkey) AS rn
                FROM raw)
              WHERE rn = 1),
            win AS (
              SELECT code, reference_date, part, qty,
                     MIN(reference_date) OVER (PARTITION BY code) AS initial_date,
                     AVG(part) OVER w AS mean_part,
                     QUANTILE_DISC(part, 0.5) OVER w AS median_part_7_days,
                     SUM(part * part) OVER w AS sx2,
                     SUM(part) OVER w AS sx,
                     COUNT(part) OVER w AS cnt,
                     MAX(part) OVER w AS max_part_7_days,
                     MIN(part) OVER w AS min_part_7_days
              FROM deduped
              WINDOW w AS (PARTITION BY code ORDER BY reference_date
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
            SELECT code, reference_date, part, qty, initial_date,
                   ROUND(mean_part, 6) AS mean_part_7_days,
                   median_part_7_days,
                   CASE WHEN cnt > 1
                        THEN ROUND(SQRT(GREATEST(sx2 - sx * sx / cnt, 0.0) / (cnt - 1)), 6)
                   END AS std_part_7_days,
                   max_part_7_days, min_part_7_days
            FROM win ORDER BY code, reference_date"""))

  // ---------------------------------------------------------------------
  // North-star: text analysis (documents table)
  // ---------------------------------------------------------------------

  private val qTextStats = Q(
    (s, dir) => {
      import graft.text.TextAnalysis._
      t(s, dir, "documents")
        .select(col("doc_id"),
          tokenCount(col("text")).cast(LongType).as("n_tokens"),
          uniqueTokenCount(col("text")).cast(LongType).as("n_unique"),
          round(meanTokenLength(col("text")), 6).as("mean_tok_len"),
          round(typeTokenRatio(col("text")), 6).as("ttr"),
          subwordTokenEstimate(col("text")).as("est_subwords"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_unique,
                   ROUND((length(text) - (len(string_split(text, ' ')) - 1)) / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS mean_tok_len,
                   ROUND(len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS ttr,
                   GREATEST(CAST(CEIL(length(text) / 4.0) AS BIGINT), len(string_split(text, ' '))) AS est_subwords
            FROM documents ORDER BY doc_id"""))

  private val qTextQuality = Q(
    (s, dir) => {
      import graft.text.TextAnalysis._
      t(s, dir, "documents")
        .select(col("doc_id"),
          qualityScore(col("text")).as("quality"),
          round(vocabRatio(col("text"), Seq("table", "value", "row", "part")), 6).as("stop_ratio"),
          round(punctRatio(col("text")), 6).as("punct_ratio"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (
              SELECT doc_id,
                     len(string_split(text, ' ')) AS n,
                     len(list_distinct(string_split(text, ' '))) AS u,
                     (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))) / CAST(length(text) AS DOUBLE) AS punct,
                     len(list_intersect(list_distinct(string_split(text, ' ')),
                                        ['table', 'value', 'row', 'part'])) AS hits
              FROM documents)
            SELECT doc_id,
                   ROUND(LEAST(n / 100.0, 1.0) * 0.4 + (u / CAST(n AS DOUBLE)) * 0.4 + (1.0 - punct) * 0.2, 6) AS quality,
                   ROUND(hits / CAST(n AS DOUBLE), 6) AS stop_ratio,
                   ROUND(punct, 6) AS punct_ratio
            FROM f ORDER BY doc_id"""))

  /** Language-ID heuristic: marker/script scoring, oracle-replicated (the
    * argmax tie-break is: higher marker count, then later-sorting language
    * code — exactly struct-max semantics). Accuracy on a multilingual
    * fixture is asserted in TextAnalysisSpec.
    */
  private val qLangId = Q(
    (s, dir) => {
      import graft.text.TextAnalysis._
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled"), col("text"),
          array_distinct(tokens(lower(col("text")))).as("tk"))
        .select(col("doc_id"), col("labeled"),
          langIdFromTokens(col("text"), col("tk")).as("predicted"))
        .orderBy("doc_id")
    },
    Some("""WITH scored AS (
              SELECT doc_id, lang AS labeled,
                     length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 AS cjk,
                     len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                         ['der','die','und','das','nicht','ist','ich','ein','mit','zu'])) AS s_de,
                     len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                         ['the','and','of','to','in','is','that','it','for','with'])) AS s_en,
                     len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                         ['el','la','de','que','y','en','los','del','se','por'])) AS s_es,
                     len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                         ['le','la','les','de','des','et','est','une','dans','que'])) AS s_fr
              FROM documents)
            SELECT doc_id, labeled,
                   CASE WHEN cjk THEN 'zh'
                        WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                        WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr) THEN 'fr'
                        WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
                        WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
                        ELSE 'de' END AS predicted
            FROM scored ORDER BY doc_id"""))

  private val qFingerprint = Q(
    (s, dir) => {
      import graft.text.TextAnalysis._
      // tokens and shingles staged as separate projections: multi-
      // referenced, so CollapseProject keeps them materialized once per row
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), docFingerprint(col("text")).as("doc_md5"),
          shinglesFromTokens(col("text"), col("tk")).as("sh"))
        .select(col("doc_id"), col("doc_md5"),
          shingleFingerprintFromShingles(col("sh")).as("shingle_fp"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
            SELECT doc_id,
                   md5(lower(text)) AS doc_md5,
                   CASE WHEN len(toks) < 3 THEN md5(text)
                        ELSE list_sort(list_transform(generate_series(1, len(toks) - 2),
                               i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))[1]
                   END AS shingle_fp
            FROM t ORDER BY doc_id"""))

  /** DuckDB rendering of the md5-derived 60-bit hash
    * ([[graft.dedup.NearDup.md5Long]]): both engines parse the md5's first
    * 15 hex chars base-16, so every hash-keyed construction below replays
    * externally.
    */
  private def md5LongSql(inner: String): String =
    s"('0x' || substring(md5($inner), 1, 15))::BIGINT"

  /** DuckDB replay of [[graft.text.Bpe]]'s leftmost-greedy merge apply:
    * fold the piped symbol string `s` left to right with a string
    * accumulator (`list_reduce`), merging exactly when the accumulator's
    * last symbol is `pa` and the incoming symbol is `pb` — identical
    * fold to the Spark side's `aggregate` HOF. `pa`/`pb` are SQL
    * expressions (CTE column refs), not literals.
    */
  private def bpeMergeSql(s: String, pa: String, pb: String): String =
    s"""list_reduce(list_prepend('|', string_split(trim($s, '|'), '|')),
       (acc, x) -> CASE WHEN ends_with(acc, '|' || $pa || '|') AND x = $pb
                   THEN left(acc, len(acc) - len($pa) - 1) || $pa || $pb || '|'
                   ELSE acc || x || '|' END)"""

  /** CTE chain replaying [[graft.dedup.NearDup.minHashLsh]] over a prior
    * CTE named `base` with columns (id, text). Emits CTEs ending in
    * `pairs`(id_a, id_b, jaccard) — jaccard unrounded, filtered to
    * `threshold` — mirroring stage-for-stage: shingles → one md5 per
    * shingle → Kirsch–Mitzenmacher signature slots → banding → bucket cap
    * → distinct candidates → signature estimate prefilter → exact
    * token-set Jaccard verification.
    */
  private def minHashPairsCtes(bands: Int, rowsPerBand: Int,
                               threshold: Double, maxBucket: Int): String = {
    val numHashes = bands * rowsPerBand
    val slack = math.max(0.0, threshold - 1.5 / math.sqrt(numHashes.toDouble))
    val sigTerms = (0 until numHashes).map { i =>
      s"list_min(list_transform(hs, p -> p.h1 + $i * p.h2))"
    }.mkString(",\n                     ")
    val bandSelects = (0 until bands).map { b =>
      val slots = (0 until rowsPerBand)
        .map(r => s"sig[${b * rowsPerBand + r + 1}]::VARCHAR").mkString(", ")
      s"SELECT id, $b AS band, ${md5LongSql(s"concat_ws('|', '$b', $slots)")} AS bh FROM sig"
    }.mkString("\n              UNION ALL ")
    val estTerms = (1 to numHashes)
      .map(i => s"(CASE WHEN sa.sig[$i] = sb.sig[$i] THEN 1 ELSE 0 END)").mkString(" + ")
    s"""d AS (SELECT id, text, string_split(text, ' ') AS toks FROM base),
            shg AS (SELECT id, CASE WHEN len(toks) >= 3
                      THEN list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                      ELSE [text] END AS sh FROM d),
            hs AS (SELECT id, list_transform(sh, m -> struct_pack(
                     h1 := ('0x' || substring(md5(m), 1, 15))::BIGINT,
                     h2 := ('0x' || substring(md5(m), 16, 14))::BIGINT)) AS hs FROM shg),
            sig AS (SELECT id, [$sigTerms] AS sig FROM hs),
            banded AS ($bandSelects),
            okbuckets AS (SELECT band, bh FROM banded GROUP BY band, bh HAVING COUNT(*) <= $maxBucket),
            capped AS (SELECT banded.id, banded.band, banded.bh FROM banded JOIN okbuckets USING (band, bh)),
            cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                     FROM capped a JOIN capped b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
            est AS (SELECT c.id_a, c.id_b FROM cand c
                    JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b
                    WHERE ($estTerms) / $numHashes.0 >= $slack),
            tk AS (SELECT id, list_distinct(toks) AS toks FROM d),
            pairs AS (SELECT id_a, id_b, jacc AS jaccard FROM (
                        SELECT e.id_a, e.id_b,
                               CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
                               CAST(len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) AS jacc
                        FROM est e JOIN tk ta ON ta.id = e.id_a JOIN tk tb ON tb.id = e.id_b)
                      WHERE jacc >= $threshold)"""
  }

  /** Two-table variant of [[minHashPairsCtes]] replaying [[graft.dedup
    * .NearDup.minHashLshAgainstCorpus]] over prior CTEs `nbase`/`sbase`
    * (id, text). Emits CTEs ending in `xpairs`(new_id, seen_id, jaccard):
    * the same stage-for-stage chain per side, bucket cap computed on the
    * SEEN side only, candidates joined across.
    */
  /** `cteSuffix` (default "" keeps every existing oracle byte-identical)
    * renames all internal CTEs so TWO independent LSH chains — e.g. the
    * whole-doc fuzzy pass and the chunked containment pass in
    * [[qDecontamMatrix]] — can coexist in one WITH clause.
    */
  private def minHashXPairsCtes(bands: Int, rowsPerBand: Int,
                                threshold: Double, maxBucket: Int,
                                cteSuffix: String = ""): String = {
    val x = cteSuffix
    val numHashes = bands * rowsPerBand
    val slack = math.max(0.0, threshold - 1.5 / math.sqrt(numHashes.toDouble))
    val sigTerms = (0 until numHashes).map { i =>
      s"list_min(list_transform(hs, p -> p.h1 + $i * p.h2))"
    }.mkString(",\n                     ")
    def sideCtes(p: String, base: String) =
      s"""${p}d$x AS (SELECT id, text, string_split(text, ' ') AS toks FROM $base),
            ${p}shg$x AS (SELECT id, CASE WHEN len(toks) >= 3
                      THEN list_transform(generate_series(1, len(toks) - 2),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                      ELSE [text] END AS sh FROM ${p}d$x),
            ${p}hs$x AS (SELECT id, list_transform(sh, m -> struct_pack(
                     h1 := ('0x' || substring(md5(m), 1, 15))::BIGINT,
                     h2 := ('0x' || substring(md5(m), 16, 14))::BIGINT)) AS hs FROM ${p}shg$x),
            ${p}sig$x AS (SELECT id, [$sigTerms] AS sig FROM ${p}hs$x)"""
    def bandSelects(sigCte: String) = (0 until bands).map { b =>
      val slots = (0 until rowsPerBand)
        .map(r => s"sig[${b * rowsPerBand + r + 1}]::VARCHAR").mkString(", ")
      s"SELECT id, $b AS band, ${md5LongSql(s"concat_ws('|', '$b', $slots)")} AS bh FROM $sigCte"
    }.mkString("\n              UNION ALL ")
    val estTerms = (1 to numHashes)
      .map(i => s"(CASE WHEN sa.sig[$i] = sb.sig[$i] THEN 1 ELSE 0 END)").mkString(" + ")
    s"""${sideCtes("n", s"nbase$x")},
            ${sideCtes("s", s"sbase$x")},
            nbanded$x AS (${bandSelects(s"nsig$x")}),
            sbanded$x AS (${bandSelects(s"ssig$x")}),
            okb$x AS (SELECT band, bh FROM sbanded$x GROUP BY band, bh HAVING COUNT(*) <= $maxBucket),
            scap$x AS (SELECT sbanded$x.id, sbanded$x.band, sbanded$x.bh
                     FROM sbanded$x JOIN okb$x USING (band, bh)),
            xcand$x AS (SELECT DISTINCT n.id AS new_id, s.id AS seen_id
                      FROM nbanded$x n JOIN scap$x s
                        ON n.band = s.band AND n.bh = s.bh AND n.id <> s.id),
            xest$x AS (SELECT c.new_id, c.seen_id FROM xcand$x c
                     JOIN nsig$x sa ON sa.id = c.new_id
                     JOIN ssig$x sb ON sb.id = c.seen_id
                     WHERE ($estTerms) / $numHashes.0 >= $slack),
            ntk$x AS (SELECT id, list_distinct(toks) AS toks FROM nd$x),
            stk$x AS (SELECT id, list_distinct(toks) AS toks FROM sd$x),
            xpairs$x AS (SELECT new_id, seen_id, jacc AS jaccard FROM (
                        SELECT e.new_id, e.seen_id,
                               CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
                               CAST(len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) AS jacc
                        FROM xest$x e JOIN ntk$x ta ON ta.id = e.new_id
                             JOIN stk$x tb ON tb.id = e.seen_id)
                      WHERE jacc >= $threshold)"""
  }

  /** Two-table (batch vs seen) variant of [[simHashPairsCtes]]: the
    * same hash construction over doc_id < 1000, but ground-truth pairs
    * CROSS the `split` boundary (new side < split, seen side ≥ split).
    */
  private def simHashPairsCtesCross(maxHamming: Int, split: Long): String = {
    val base = simHashPairsCtes(maxHamming)
    val head = base.substring(0, base.lastIndexOf("spairs AS"))
    s"""$head
            xspairs AS (SELECT a.id AS new_id, b.id AS seen_id,
                               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
                        FROM sim a JOIN sim b ON a.id < $split AND b.id >= $split
                        WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming)"""
  }

  /** Brute-force all-pairs SimHash oracle: per-token md5 split into a
    * 60-bit low part (hex chars 1-15) + 4-bit high part (char 16) — the
    * exact [[graft.dedup.NearDup.simHash]] construction — then EVERY pair
    * within the Hamming radius (no blocking: the oracle checks the
    * optimized blocked join against ground truth).
    */
  private def simHashPairsCtes(maxHamming: Int): String = {
    val sumTerms = (0 until 64).map { i =>
      val (h, mask) = if (i < 60) ("h1", 1L << i) else ("h2", 1L << (i - 60))
      s"SUM(CASE WHEN ($h & $mask) != 0 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n                     ")
    val reassemble = (0 until 64).map { i =>
      s"(CASE WHEN b$i > 0 THEN (${1L << i})::BIGINT ELSE 0::BIGINT END)"
    }.mkString(" +\n                     ")
    s"""tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
                     FROM documents WHERE doc_id < 1000),
            h AS (SELECT id, ${md5LongSql("tok")} AS h1,
                         ('0x' || substring(md5(tok), 16, 1))::BIGINT AS h2 FROM tok),
            bits AS (SELECT id, $sumTerms FROM h GROUP BY id),
            sim AS (SELECT id, $reassemble AS simhash FROM bits),
            spairs AS (SELECT a.id AS id_a, b.id AS id_b,
                              CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
                       FROM sim a JOIN sim b ON a.id < b.id
                       WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming)"""
  }

  private def simHashBruteForceSql(maxHamming: Int): String =
    s"""WITH ${simHashPairsCtes(maxHamming)}
            SELECT id_a, id_b, hamming FROM spairs ORDER BY id_a, id_b"""

  /** DuckDB rendering of [[graft.text.TextAnalysis.qualityScore]] (the
    * q_text_quality-proven form, with the empty-doc 0.0 guard).
    */
  private def qualitySql(textExpr: String): String =
    s"""CASE WHEN length($textExpr) = 0 THEN 0.0
             ELSE ROUND(LEAST(len(string_split($textExpr, ' ')) / 100.0, 1.0) * 0.4 +
                        len(list_distinct(string_split($textExpr, ' '))) / CAST(len(string_split($textExpr, ' ')) AS DOUBLE) * 0.4 +
                        (1.0 - (length($textExpr) - length(regexp_replace($textExpr, '[^a-z0-9 ]', '', 'g'))) / CAST(length($textExpr) AS DOUBLE)) * 0.2, 6) END"""

  /** The full training-corpus builder composition (language filter →
    * quality gate → exact dedup → MinHash near-dup removal → deterministic
    * sampling). Fully hash-checked: the md5-derived MinHash signatures
    * make even the near-dup stage DuckDB-replayable, so the flagship LLM
    * pipeline is proven end-to-end, not just stage-by-stage (TrainsetSpec
    * additionally proves rebuild determinism + planted-dup removal).
    */
  private val qTrainset = Q(
    (s, dir) =>
      graft.pipeline.Trainset.build(t(s, dir, "documents"),
        langs = Set("en", "es", "de"), minQuality = 0.3,
        nearDupThreshold = 0.95, samplePerSource = 20)
        .orderBy("source", "rk"),
    Some(s"""WITH f0 AS (SELECT doc_id, source, lang, text FROM documents WHERE lang IN ('en', 'es', 'de')),
            fq AS (SELECT *, ${qualitySql("text")} AS quality FROM f0),
            filt AS (SELECT * FROM fq WHERE quality >= 0.3),
            keepers AS (SELECT MIN(doc_id) AS doc_id FROM filt GROUP BY md5(lower(text))),
            ex AS (SELECT filt.* FROM filt JOIN keepers USING (doc_id)),
            base AS (SELECT doc_id AS id, text FROM ex),
            ${minHashPairsCtes(bands = 4, rowsPerBand = 4, threshold = 0.95, maxBucket = 1000)},
            losers AS (SELECT DISTINCT id_b FROM pairs),
            nd AS (SELECT ex.* FROM ex LEFT JOIN losers l ON l.id_b = ex.doc_id WHERE l.id_b IS NULL),
            r AS (SELECT doc_id, source, lang, quality,
                         len(string_split(text, ' ')) AS n_tokens,
                         row_number() OVER (PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
                  FROM nd)
            SELECT doc_id, source, lang, quality, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(rk AS INTEGER) AS rk
            FROM r WHERE rk <= 20 ORDER BY source, rk"""))

  // ---------------------------------------------------------------------
  // North-star: decontamination + chunking/packing (documents table)
  // ---------------------------------------------------------------------

  /** Benchmark decontamination: documents below id 450 are the "training
    * corpus", the rest the "benchmark". n=3 (not the production 13)
    * because the synthetic docs are short; the construction is
    * n-independent. Oracle replays tokens → n-grams → md5Long hashes →
    * distinct → join → per-doc counts.
    */
  private val qDecontaminate = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Decontaminate.flagContaminated(
        d.filter(col("doc_id") < 450), d.filter(col("doc_id") >= 450),
        "doc_id", "text", n = 3, minHits = 5)
        .orderBy("id")
    },
    Some(decontamSql(split = 450, minHits = 5)))

  /** Contamination-report oracle, shared by the exact and Bloom-prefiltered
    * variants — the Bloom path's exact-confirm join makes its output
    * row-identical to the exact path, which is precisely the property the
    * shared SQL proves.
    */
  private def decontamCtes(split: Int): String =
    s"""gr AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
                    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
                    WHERE len(toks) >= 3),
            gh AS (SELECT DISTINCT doc_id, ${md5LongSql("g")} AS gh FROM gr),
            trg AS (SELECT * FROM gh WHERE doc_id < $split),
            beg AS (SELECT DISTINCT gh FROM gh WHERE doc_id >= $split),
            tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM trg GROUP BY doc_id),
            hit AS (SELECT trg.doc_id, COUNT(*) AS n_hits FROM trg JOIN beg USING (gh) GROUP BY trg.doc_id),
            ids AS (SELECT doc_id FROM documents WHERE doc_id < $split)"""

  private def decontamSql(split: Int, minHits: Int): String =
    s"""WITH ${decontamCtes(split)}
            SELECT ids.doc_id AS id,
                   COALESCE(n_grams, 0) AS n_grams,
                   COALESCE(n_hits, 0) AS n_hits,
                   ROUND(COALESCE(CAST(n_hits AS DOUBLE) / n_grams, 0.0), 6) AS overlap,
                   COALESCE(n_hits, 0) >= $minHits AS contaminated
            FROM ids LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)
            ORDER BY id"""

  /** [[qDecontaminate]]'s 100 TB shape ([[graft.text.Decontaminate
    * .bloomFlagContaminated]]): benchmark grams become a driver-built
    * Bloom filter evaluated per training gram inside the scan stage
    * (codegen'd [[graft.functions.BloomMightContainLong]]), so only
    * hits + ~fpp of grams reach the contamination join; survivors are
    * exact-confirmed. The oracle is the SAME report SQL as the exact
    * variant (different split so the two queries don't alias): false
    * positives must be invisible in the result.
    */
  private val qDecontaminateBloom = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Decontaminate.bloomFlagContaminated(
        d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400),
        "doc_id", "text", n = 3, minHits = 5, fpp = 0.01)
        .orderBy("id")
    },
    Some(decontamSql(split = 400, minHits = 5)))

  /** The filter form a pipeline actually composes ([[graft.text
    * .Decontaminate.removeContaminated]]): training docs minus the
    * contaminated set, as a left anti join — the report query proves the
    * counts, this one proves the surviving id set.
    */
  private val qDecontaminateRemoved = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Decontaminate.removeContaminated(
        d.filter(col("doc_id") < 450), d.filter(col("doc_id") >= 450),
        "doc_id", "text", n = 3, minHits = 5)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${decontamCtes(450)}
            SELECT d.doc_id, d.source FROM documents d
            WHERE d.doc_id < 450
              AND d.doc_id NOT IN (SELECT doc_id FROM hit WHERE n_hits >= 5)
            ORDER BY d.doc_id"""))

  /** FUZZY decontamination ([[graft.text.Decontaminate
    * .flagNearContaminated]]): training docs that MinHash-LSH-near-match
    * a benchmark item at token-Jaccard ≥ 0.9 — the paraphrase-robust
    * complement to the exact n-gram pass. The oracle replays the whole
    * two-table LSH chain over the SAME disjoint prefixed id spaces the
    * operator uses internally, then the per-train-doc aggregation and
    * the prefix-strip back to numeric ids. Threshold 0.9 because this
    * synthetic corpus is pathologically self-similar (74% of pairs ≥
    * 0.5 — FIXTURES.md); real benchmarks sit at 0.7-0.8.
    */
  private val qDecontamFuzzy = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Decontaminate.flagNearContaminated(
        d.filter(col("doc_id") < 450), d.filter(col("doc_id") >= 450),
        "doc_id", "text", threshold = 0.9)
        .orderBy("id")
    },
    // recall posture (see flagNearContaminated): 16×1 banding, LSH run
    // at threshold 0 (estimate prefilter inert), exact-Jaccard filter
    // applied on verified pairs
    Some(s"""WITH nbase AS (SELECT 't:' || CAST(doc_id AS VARCHAR) AS id, text
                            FROM documents WHERE doc_id < 450),
            sbase AS (SELECT 'b:' || CAST(doc_id AS VARCHAR) AS id, text
                      FROM documents WHERE doc_id >= 450),
            ${minHashXPairsCtes(bands = 16, rowsPerBand = 1,
                                threshold = 0.0, maxBucket = 1000)},
            agg AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_bench_matches,
                           MAX(jaccard) AS max_jaccard
                    FROM xpairs WHERE jaccard >= 0.9 GROUP BY new_id)
            SELECT CAST(substring(new_id, 3) AS BIGINT) AS id,
                   n_bench_matches, max_jaccard
            FROM agg ORDER BY id"""))

  /** The STEADY-STATE fuzzy-decontam loop ([[graft.text.Decontaminate
    * .writeBenchIndex]] → [[graft.text.Decontaminate
    * .flagNearContaminatedAgainstIndex]]): the benchmark's signatures
    * and token sets come off a stored index (built once; appends/erases
    * compose through the NearDup index verbs), so each batch pays only
    * its own signature pass. Shares [[qDecontamFuzzy]]'s oracle
    * VERBATIM — steady state ≡ from-raw is the invariance this row
    * checks through a real disk round trip.
    */
  private val qDecontamFuzzyIndexed = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val idxPath = scratchDir("graft_fz_idx").resolve("idx").toString
      graft.text.Decontaminate.writeBenchIndex(
        d.filter(col("doc_id") >= 450), "doc_id", "text", idxPath)
      graft.text.Decontaminate.flagNearContaminatedAgainstIndex(
        d.filter(col("doc_id") < 450), idxPath, "doc_id", "text",
        threshold = 0.9)
        .orderBy("id")
    },
    qDecontamFuzzy.oracle)

  /** STEADY-STATE fuzzy decontam ([[qDecontamFuzzyIndexed]]'s
    * production split): the benchmark signature index is built once per
    * session/SF via [[steadyIndex]]; the measured query pays one
    * signature pass over the BATCH plus index-side joins — the daily
    * decontam loop. Same oracle verbatim.
    */
  private val qDecontamFuzzySteady = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val idxPath = steadyIndex("graft_fz_steady", dir) { p =>
        graft.text.Decontaminate.writeBenchIndex(
          d.filter(col("doc_id") >= 450), "doc_id", "text", p)
      }
      graft.text.Decontaminate.flagNearContaminatedAgainstIndex(
        d.filter(col("doc_id") < 450), idxPath, "doc_id", "text",
        threshold = 0.9)
        .orderBy("id")
    },
    qDecontamFuzzy.oracle)

  /** CHUNKED fuzzy decontamination ([[graft.text.Decontaminate
    * .flagNearContaminatedChunked]]) — the CONTAINMENT case: a (possibly
    * edited) benchmark item EMBEDDED in a longer training doc, invisible
    * to whole-doc Jaccard and, once edited, to the exact n-gram pass.
    * Fixture: benchmark items are the 24-token PREFIXES of docs 450-469
    * (so containment relationships exist in the synthetic corpus);
    * training docs < 450 are cut into 24-token windows at stride 12 and
    * window-vs-item matched at Jaccard ≥ 0.5. The oracle replays the
    * window explode (ceil count, clamped tail slice), the full two-table
    * LSH chain over the composite "t:<id>#<chunk>" key space, and the
    * per-doc distinct-item aggregation.
    */
  private val qDecontamChunked = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") >= 450 && col("doc_id") < 470)
        .select(col("doc_id"),
          concat_ws(" ",
            slice(graft.text.TextAnalysis.tokens(col("text")), 1, 24)).as("text"))
      graft.text.Decontaminate.flagNearContaminatedChunked(
        d.filter(col("doc_id") < 450), bench, "doc_id", "text",
        chunkSize = 24, stride = 12, threshold = 0.5)
        .orderBy("id")
    },
    Some(s"""WITH ttk AS (SELECT doc_id, string_split(text, ' ') AS tk
                          FROM documents WHERE doc_id < 450),
            -- per-row range() unnest: the window count is exact for ANY
            -- doc length (a fixed generate_series bound would silently
            -- truncate docs longer than its cap at larger SFs)
            nch0 AS (SELECT doc_id, tk,
                            unnest(range(0, GREATEST(
                              CAST(CEIL((len(tk) - 24) / 12.0) + 1 AS INT), 1))) AS ci
                     FROM ttk),
            nch AS (SELECT doc_id, ci,
                           array_to_string(tk[ci*12+1 : ci*12+24], ' ') AS text
                    FROM nch0),
            nbase AS (SELECT 't:' || CAST(doc_id AS VARCHAR) || '#' || CAST(ci AS VARCHAR) AS id,
                             text FROM nch),
            sbase AS (SELECT 'b:' || CAST(doc_id AS VARCHAR) AS id,
                             array_to_string(string_split(text, ' ')[1:24], ' ') AS text
                      FROM documents WHERE doc_id >= 450 AND doc_id < 470),
            ${minHashXPairsCtes(bands = 16, rowsPerBand = 1,
                                threshold = 0.0, maxBucket = 1000)},
            agg AS (SELECT CAST(string_split(substring(new_id, 3), '#')[1] AS BIGINT) AS id,
                           CAST(COUNT(DISTINCT seen_id) AS BIGINT) AS n_bench_matches,
                           MAX(jaccard) AS max_jaccard
                    FROM xpairs WHERE jaccard >= 0.5 GROUP BY 1)
            SELECT id, n_bench_matches, max_jaccard FROM agg ORDER BY id"""))

  /** STEADY-STATE chunked decontam ([[graft.text.Decontaminate
    * .flagNearContaminatedChunkedAgainstIndex]]): the benchmark-prefix
    * index is built once per session/SF; the measured query pays one
    * window-signature pass over the batch plus bucket-pruned index
    * joins — the production containment scan. Shares
    * [[qDecontamChunked]]'s oracle VERBATIM.
    */
  private val qDecontamChunkedSteady = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val idxPath = steadyIndex("graft_fzc_steady", dir) { p =>
        graft.text.Decontaminate.writeBenchIndex(
          d.filter(col("doc_id") >= 450 && col("doc_id") < 470)
            .select(col("doc_id"),
              concat_ws(" ",
                slice(graft.text.TextAnalysis.tokens(col("text")), 1, 24)).as("text")),
          "doc_id", "text", p)
      }
      graft.text.Decontaminate.flagNearContaminatedChunkedAgainstIndex(
        d.filter(col("doc_id") < 450), idxPath, "doc_id", "text",
        chunkSize = 24, stride = 12, threshold = 0.5)
        .orderBy("id")
    },
    qDecontamChunked.oracle)

  /** The fuzzy filter form ([[graft.text.Decontaminate
    * .removeNearContaminated]]): the surviving id set after the
    * near-match anti-join — the operator a release pipeline composes.
    */
  private val qDecontamFuzzyRemoved = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.Decontaminate.removeNearContaminated(
        d.filter(col("doc_id") < 450), d.filter(col("doc_id") >= 450),
        "doc_id", "text", threshold = 0.9)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    Some(s"""WITH nbase AS (SELECT 't:' || CAST(doc_id AS VARCHAR) AS id, text
                            FROM documents WHERE doc_id < 450),
            sbase AS (SELECT 'b:' || CAST(doc_id AS VARCHAR) AS id, text
                      FROM documents WHERE doc_id >= 450),
            ${minHashXPairsCtes(bands = 16, rowsPerBand = 1,
                                threshold = 0.0, maxBucket = 1000)},
            bad AS (SELECT DISTINCT CAST(substring(new_id, 3) AS BIGINT) AS id
                    FROM xpairs WHERE jaccard >= 0.9)
            SELECT d.doc_id, d.source FROM documents d
            WHERE d.doc_id < 450 AND d.doc_id NOT IN (SELECT id FROM bad)
            ORDER BY d.doc_id"""))

  /** The per-document decontamination MATRIX ([[graft.pipeline.Curation
    * .decontamMatrix]]): every detector family's verdict side by side —
    * exact 3-grams at ≥5 hits, fuzzy whole-doc Jaccard ≥ 0.9, CHUNKED
    * containment (24-token windows at stride 12 vs the benchmark items'
    * 24-token prefixes, J ≥ 0.5), semantic embedding cosine ≥ 0.3 —
    * under ONE coherent 450 split on both the doc and embedding tables.
    * The oracle replays all four detector chains (the exact CTEs, TWO
    * full LSH chains via the suffixed CTE instantiation, the embedding
    * product) and the fold, so a drift in ANY family breaks this row
    * even if the family's own gate row still passes its different split.
    */
  private val qDecontamMatrix = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      graft.pipeline.Curation.decontamMatrix(
          d.filter(col("doc_id") < 450), d.filter(col("doc_id") >= 450),
          emb.filter(col("vec_id") < 450), emb.filter(col("vec_id") >= 450),
          "doc_id", "text", ngramN = 3, minHits = 5L)
        .orderBy("id")
    },
    Some(s"""WITH ${decontamCtes(450)},
            exacts AS (SELECT ids.doc_id AS id,
                              COALESCE(n_hits, 0) >= 5 AS exact
                       FROM ids LEFT JOIN hit USING (doc_id)),
            nbase AS (SELECT 't:' || CAST(doc_id AS VARCHAR) AS id, text
                      FROM documents WHERE doc_id < 450),
            sbase AS (SELECT 'b:' || CAST(doc_id AS VARCHAR) AS id, text
                      FROM documents WHERE doc_id >= 450),
            ${minHashXPairsCtes(bands = 16, rowsPerBand = 1,
                                threshold = 0.0, maxBucket = 1000)},
            fz AS (SELECT DISTINCT CAST(substring(new_id, 3) AS BIGINT) AS id
                   FROM xpairs WHERE jaccard >= 0.9),
            ttk AS (SELECT doc_id, string_split(text, ' ') AS tk
                    FROM documents WHERE doc_id < 450),
            nch0 AS (SELECT doc_id, tk,
                            unnest(range(0, GREATEST(
                              CAST(CEIL((len(tk) - 24) / 12.0) + 1 AS INT), 1))) AS ci
                     FROM ttk),
            nch AS (SELECT doc_id, ci,
                           array_to_string(tk[ci*12+1 : ci*12+24], ' ') AS text
                    FROM nch0),
            nbasec AS (SELECT 't:' || CAST(doc_id AS VARCHAR) || '#' || CAST(ci AS VARCHAR) AS id,
                              text FROM nch),
            sbasec AS (SELECT 'b:' || CAST(doc_id AS VARCHAR) AS id,
                              array_to_string(string_split(text, ' ')[1:24], ' ') AS text
                       FROM documents WHERE doc_id >= 450),
            ${minHashXPairsCtes(bands = 16, rowsPerBand = 1,
                                threshold = 0.0, maxBucket = 1000,
                                cteSuffix = "c")},
            ck AS (SELECT DISTINCT CAST(string_split(substring(new_id, 3), '#')[1] AS BIGINT) AS id
                   FROM xpairsc WHERE jaccard >= 0.5),
            sv AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS v
                   FROM embeddings WHERE vec_id >= 450),
            tv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                   FROM embeddings WHERE vec_id < 450),
            sm AS (SELECT DISTINCT t.id FROM tv t JOIN sv b
                   ON ROUND(list_cosine_similarity(t.v, b.v), 6) >= 0.3)
            SELECT e.id, e.exact,
                   fz.id IS NOT NULL AS fuzzy,
                   ck.id IS NOT NULL AS chunked,
                   sm.id IS NOT NULL AS semantic,
                   (e.exact OR fz.id IS NOT NULL OR ck.id IS NOT NULL
                      OR sm.id IS NOT NULL) AS contaminated
            FROM exacts e
            LEFT JOIN fz ON fz.id = e.id
            LEFT JOIN ck ON ck.id = e.id
            LEFT JOIN sm ON sm.id = e.id
            ORDER BY e.id"""))

  /** Frame-sampling plumbing ([[graft.multimodal.Multimodal
    * .sampleFrames]]): payloads split into fixed 64-byte frames, every
    * 2nd kept — the oracle replays frame count and the first frame's
    * digest byte-for-byte (ASCII text ⇒ char slices = byte slices).
    */
  private val qFrameSample = Q(
    (s, dir) => {
      val withBin = graft.multimodal.Multimodal.withBinaryPayload(
        t(s, dir, "documents"), "text")
      graft.multimodal.Multimodal.sampleFrames(withBin, "payload",
        frameBytes = 64, stride = 2)
        .select(col("doc_id"),
          col("n_frames_sampled"),
          // try_element_at: a zero-byte payload has frames = [] — ANSI
          // element_at would ABORT the job on it; NULL matches the
          // oracle's CASE octet_length = 0 guard
          md5(try_element_at(col("frames"), lit(1))).as("first_frame_digest"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   CAST(ceil(ceil(octet_length(encode(text)) / 64.0) / 2.0) AS INTEGER)
                     AS n_frames_sampled,
                   CASE WHEN octet_length(encode(text)) = 0 THEN NULL
                        ELSE md5(substring(text, 1, 64)) END AS first_frame_digest
            FROM documents ORDER BY doc_id"""))

  /** Per-stratum feature normalization ([[graft.ops.Normalize]]): z-score
    * (exact-sum stddev shape — the float-determinism playbook) and
    * min-max scaling in one window pass, one exchange.
    */
  private val qNormalize = Q(
    (s, dir) => {
      val keyed = Normalize.minMaxScale(
        Normalize.zscore(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity", "z"),
        Seq("l_returnflag"), "l_quantity", "mm")
      keyed.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_returnflag"),
          round(col("z"), 6).as("z"), round(col("mm"), 6).as("mm"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },
    Some("""WITH w AS (
              SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
                     l_quantity AS x,
                     SUM(l_quantity) OVER k AS sx,
                     SUM(l_quantity * l_quantity) OVER k AS sx2,
                     COUNT(l_quantity) OVER k AS n,
                     MIN(l_quantity) OVER k AS lo,
                     MAX(l_quantity) OVER k AS hi
              FROM lineitem
              WINDOW k AS (PARTITION BY l_returnflag))
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag,
                   ROUND((x - sx / n) / SQRT((sx2 - sx * sx / n) / (n - 1)), 6) AS z,
                   ROUND((x - lo) / (hi - lo), 6) AS mm
            FROM w ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""))

  /** Distribution profiling ([[graft.ops.Normalize.histogram]]): fixed-
    * width token-count histogram per source — pure integer binning,
    * partial-aggregated.
    */
  private val qTokenHistogram = Q(
    (s, dir) =>
      graft.ops.Normalize.histogram(
        t(s, dir, "documents").select(col("source"),
          graft.text.TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        Seq("source"), "n_tokens", binWidth = 10)
        .orderBy("source", "bin_lo"),
    Some("""SELECT source,
                   CAST(FLOOR(len(string_split(text, ' ')) / 10) * 10 AS BIGINT) AS bin_lo,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY 1, 2 ORDER BY source, bin_lo"""))

  /** Incremental exact dedup ([[graft.dedup.NearDup.dedupAgainstCorpus]]):
    * each ingest batch anti-joined against the historical corpus's
    * fingerprint set — 16-byte digests cross the shuffle, never text.
    */
  private val qDedupIncremental = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      graft.dedup.NearDup.dedupAgainstCorpus(
        d.filter(col("doc_id") < 250), d.filter(col("doc_id") >= 250),
        "doc_id", "text")
        .select(col("doc_id"), col("fingerprint"), col("source"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(lower(text)) AS fingerprint, source
            FROM documents
            WHERE doc_id < 250
              AND md5(lower(text)) NOT IN
                  (SELECT md5(lower(text)) FROM documents WHERE doc_id >= 250)
            ORDER BY doc_id"""))

  /** Per-document n-gram repetition report ([[graft.text.CorpusStats
    * .repetitionStats]]) — the Gopher-style "fraction of the doc that is
    * its own most frequent / any repeated 2-gram" quality signals, as
    * explode → two-level partial aggregation (never a per-row
    * interpreted-lambda pass over gram arrays).
    */
  private val qRepetition = Q(
    (s, dir) =>
      graft.text.CorpusStats.repetitionStats(
        t(s, dir, "documents"), "doc_id", "text", n = 2)
        .orderBy("id"),
    Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            gr AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1])) AS g
                   FROM d WHERE len(toks) >= 2),
            gh AS (SELECT doc_id, ${md5LongSql("g")} AS gh FROM gr),
            pg AS (SELECT doc_id, gh, COUNT(*) AS occ FROM gh GROUP BY doc_id, gh),
            pd AS (SELECT doc_id, CAST(SUM(occ) AS BIGINT) AS n_ngrams,
                          CAST(MAX(occ) AS BIGINT) AS top_ngram_count,
                          CAST(SUM(CASE WHEN occ > 1 THEN occ ELSE 0 END) AS BIGINT) AS dup_occ
                   FROM pg GROUP BY doc_id)
            SELECT d.doc_id AS id,
                   COALESCE(n_ngrams, 0) AS n_ngrams,
                   COALESCE(top_ngram_count, 0) AS top_ngram_count,
                   ROUND(COALESCE(CAST(top_ngram_count AS DOUBLE) / n_ngrams, 0.0), 6) AS top_ngram_frac,
                   ROUND(COALESCE(CAST(dup_occ AS DOUBLE) / n_ngrams, 0.0), 6) AS dup_ngram_frac
            FROM (SELECT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)
            ORDER BY id"""))

  /** Multi-width Gopher repetition GATE ([[graft.text.Repetition
    * .report]]): the per-(doc, n∈{2,3,4}) duplicate-gram and top-gram
    * dominance verdict. Distinct from `q_repetition` (single-width
    * stats): ONE corpus scan builds all three gram widths via chained
    * generators over the codegen'd [[graft.functions.NgramArray]], and
    * the flag compare is pure BIGINT products — both engines decide the
    * boundary identically (integer-exact-threshold discipline).
    */
  private val qRepetitionGate = Q(
    (s, dir) =>
      graft.text.Repetition.report(
        t(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text",
        dupPermille = Map(2 -> 400, 3 -> 300, 4 -> 250),
        topPermille = Map(2 -> 200, 3 -> 180, 4 -> 160))
        .orderBy("id", "n"),
    Some("""WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS toks
                       FROM documents WHERE doc_id < 500),
            w AS (SELECT unnest([2, 3, 4]) AS n),
            g AS (SELECT id, n,
                         unnest(list_transform(generate_series(1, len(toks) - n + 1),
                           i -> array_to_string(toks[i : i + n - 1], ' '))) AS gram
                  FROM d CROSS JOIN w WHERE len(toks) >= n),
            pc AS (SELECT id, n, gram, COUNT(*) AS c FROM g GROUP BY id, n, gram),
            st AS (SELECT id, n, CAST(SUM(c) AS BIGINT) AS total_grams,
                          CAST(COUNT(*) AS BIGINT) AS distinct_grams,
                          CAST(MAX(c) AS BIGINT) AS top_count
                   FROM pc GROUP BY id, n),
            grid AS (SELECT id, n FROM (SELECT doc_id AS id FROM documents
                                        WHERE doc_id < 500) CROSS JOIN w)
            SELECT grid.id, grid.n,
                   COALESCE(total_grams, 0) AS total_grams,
                   COALESCE(distinct_grams, 0) AS distinct_grams,
                   COALESCE(top_count, 0) AS top_count,
                   (COALESCE(total_grams, 0) > 0 AND
                    ((COALESCE(total_grams, 0) - COALESCE(distinct_grams, 0)) * 1000 >
                       (CASE grid.n WHEN 2 THEN 400 WHEN 3 THEN 300 ELSE 250 END)
                         * COALESCE(total_grams, 0)
                     OR COALESCE(top_count, 0) * 1000 >
                       (CASE grid.n WHEN 2 THEN 200 WHEN 3 THEN 180 ELSE 160 END)
                         * COALESCE(total_grams, 0)))
                     AS rep_flag
            FROM grid LEFT JOIN st ON st.id = grid.id AND st.n = grid.n
            ORDER BY 1, 2"""))

  /** Corpus vocabulary top-k ([[graft.text.CorpusStats.vocabulary]]):
    * most frequent tokens with corpus share — plans as partial agg +
    * TakeOrderedAndProject (no global sort of a web-scale vocabulary),
    * with the corpus total as a broadcast 1-row frame.
    */
  private val qVocabulary = Q(
    (s, dir) =>
      graft.text.CorpusStats.vocabulary(t(s, dir, "documents"), "text", topN = 50),
    Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
            cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS occurrences FROM tok GROUP BY token),
            tot AS (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total FROM documents)
            SELECT token, occurrences,
                   ROUND(CAST(occurrences AS DOUBLE) / (SELECT total FROM tot), 6) AS corpus_frac
            FROM cnt ORDER BY occurrences DESC, token LIMIT 50"""))

  /** Exact grouped quantiles: Spark's `percentile` (true percentile, not
    * approx) vs DuckDB `quantile_cont` — both linear interpolation at
    * rank (n-1)·q, and l_quantity is integral-valued, so the
    * interpolation arithmetic is exact IEEE in both engines (the float-
    * determinism playbook: quarters of integers are exactly
    * representable).
    */
  private val qGroupQuantiles = Q(
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          min(col("l_quantity")).as("q_min"),
          percentile(col("l_quantity"), array(lit(0.25), lit(0.5), lit(0.75))).as("qs"),
          max(col("l_quantity")).as("q_max"))
        .select(col("l_returnflag"), col("n"),
          col("q_min"),
          element_at(col("qs"), 1).as("p25"),
          element_at(col("qs"), 2).as("p50"),
          element_at(col("qs"), 3).as("p75"),
          col("q_max"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
                   MIN(l_quantity) AS q_min,
                   quantile_cont(l_quantity, 0.25) AS p25,
                   quantile_cont(l_quantity, 0.5) AS p50,
                   quantile_cont(l_quantity, 0.75) AS p75,
                   MAX(l_quantity) AS q_max
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Exact per-group median via the typed [[graft.functions.ExactMedian]]
    * Aggregator (SURVEY §4's custom-Aggregator candidate; the reference
    * only has the `percentile_approx` sketch, `etl/transform_1.py:96`).
    * `med_qty` is over integral-valued doubles — bit-exact in any engine,
    * no rounding; `med_price` exercises non-integral inputs, ROUNDed on
    * both sides because even-count interpolation differs in the last ulp
    * between (lo+hi)/2 and DuckDB's lo+(hi-lo)*0.5.
    */
  private val qMedianExact = Q(
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          graft.functions.ExactMedian(col("l_quantity")).as("med_qty"),
          round(graft.functions.ExactMedian(col("l_extendedprice")), 6).as("med_price"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
                   median(l_quantity) AS med_qty,
                   ROUND(median(l_extendedprice), 6) AS med_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** The Aggregator's WINDOW form, externally checked: per-supplier
    * deviation from the supplier's exact median, `exactMedian(x) OVER
    * (PARTITION BY l_suppkey)` vs DuckDB's native windowed `median`.
    * The partition key is deliberately HIGH-cardinality (suppliers grow
    * with the data), so window parallelism tracks the cluster; a
    * low-cardinality stratum should use the groupBy+join shape instead
    * (q_median_exact — see the Normalize 100× soak lesson, BASELINE.md).
    * l_quantity is integral-valued, so even-count medians are exact in
    * both engines.
    */
  private val qMedianWindow = Q(
    (s, dir) => {
      val w = Window.partitionBy("l_suppkey")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          (col("l_quantity") - graft.functions.ExactMedian(col("l_quantity")).over(w))
            .as("med_dev"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   l_quantity - median(l_quantity) OVER (PARTITION BY l_suppkey) AS med_dev
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""))

  /** PII redaction ([[graft.text.TextAnalysis.redactPii]]): emails, IPv4s,
    * international phone numbers and long digit runs scrubbed by a pure
    * per-row codegen'd regexp chain (no shuffle), plus per-class match
    * counts on the raw text. The dirty input is constructed
    * deterministically from customer columns (the testdata has no organic
    * PII), and the oracle replays both the construction and the identical
    * regex chain — the patterns are written in the common Java-regex ∩ RE2
    * dialect so both engines match the same spans.
    */
  private val qPiiScrub = Q(
    (s, dir) => {
      val dirty = concat(
        col("c_name"), lit(" <"),
        col("c_custkey").cast(StringType), lit("@example.com +"),
        (col("c_custkey") + lit(10000000L)).cast(StringType), lit(" ip 10.0."),
        col("c_nationkey").cast(StringType), lit(".1 acct "),
        (col("c_custkey") + lit(900000000L)).cast(StringType), lit(">"))
      t(s, dir, "customer")
        .select(col("c_custkey"), dirty.as("dirty"))
        .select(col("c_custkey"),
          graft.text.TextAnalysis.redactPii(col("dirty")).as("redacted"),
          regexp_count(col("dirty"),
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).as("n_email"),
          regexp_count(col("dirty"), lit("\\b(\\d{1,3}\\.){3}\\d{1,3}\\b")).as("n_ip"),
          regexp_count(col("dirty"), lit("\\+\\d{7,15}")).as("n_phone"),
          regexp_count(col("dirty"), lit("\\b\\d{9,}\\b")).as("n_num"))
        .orderBy("c_custkey")
    },
    Some("""WITH d AS (SELECT c_custkey,
                   c_name || ' <' || c_custkey || '@example.com +' ||
                   (c_custkey + 10000000) || ' ip 10.0.' || c_nationkey ||
                   '.1 acct ' || (c_custkey + 900000000) || '>' AS dirty
            FROM customer)
            SELECT c_custkey,
                   regexp_replace(regexp_replace(regexp_replace(regexp_replace(dirty,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                     '\+\d{7,15}', '<PHONE>', 'g'),
                     '\b\d{9,}\b', '<NUM>', 'g') AS redacted,
                   CAST(len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
                   CAST(len(regexp_extract_all(dirty, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ip,
                   CAST(len(regexp_extract_all(dirty, '\+\d{7,15}')) AS INTEGER) AS n_phone,
                   CAST(len(regexp_extract_all(dirty, '\b\d{9,}\b')) AS INTEGER) AS n_num
            FROM d ORDER BY c_custkey"""))

  /** Fixed-token-window chunking (size 32, stride 24 → 8-token overlap):
    * the per-row explode a training loader's chunker performs, with the
    * short-doc single-chunk floor. Oracle replays the window arithmetic
    * with DuckDB list slicing.
    */
  private val qChunk = Q(
    (s, dir) =>
      graft.text.Chunker.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, stride = 24)
        .orderBy("id", "chunk_idx"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            c AS (SELECT doc_id, toks,
                         GREATEST(CAST(ceil((len(toks) - 32) / 24.0) AS INTEGER) + 1, 1) AS nc
                  FROM t),
            e AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS k FROM c),
            s AS (SELECT doc_id, k, toks[k*24 + 1 : k*24 + 32] AS ctk FROM e)
            SELECT doc_id AS id, CAST(k AS INTEGER) AS chunk_idx,
                   CAST(len(ctk) AS INTEGER) AS n_tokens,
                   array_to_string(ctk, ' ') AS chunk_text
            FROM s ORDER BY id, chunk_idx"""))

  /** In-order sequence packing into 512-token bins per source stream: one
    * running-sum window; bin = the budget-slot containing the doc's start
    * offset.
    */
  private val qPackBins = Q(
    (s, dir) =>
      graft.text.Chunker.packBins(t(s, dir, "documents"), "doc_id", "text",
        "source", budget = 512L)
        .orderBy("source", "doc_id"),
    Some("""WITH d AS (SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
            c AS (SELECT source, doc_id, n_tokens,
                         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
                  FROM d)
            SELECT source, doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
                   CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 512.0) AS BIGINT) AS bin
            FROM c ORDER BY source, doc_id"""))

  /** Packed-sequence materialization ([[graft.text.Chunker.renderBins]]):
    * the (stream, bin) assignment of q_pack_bins turned into the actual
    * concatenated training sequences a packing data loader reads, with
    * in-bin order pinned by struct-sort (collect_list alone is
    * partition-arrival nondeterministic). The oracle's `string_agg ...
    * ORDER BY` replays the concatenation byte-for-byte, separator
    * included.
    */
  private val qPackRender = Q(
    (s, dir) =>
      graft.text.Chunker.renderBins(t(s, dir, "documents"), "doc_id", "text",
        "source", budget = 512L)
        .orderBy("source", "bin"),
    Some("""WITH d AS (SELECT source, doc_id, text,
                              len(string_split(text, ' ')) AS n_tokens
                       FROM documents),
            c AS (SELECT source, doc_id, text, n_tokens,
                         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
                  FROM d),
            b AS (SELECT source, doc_id, text, n_tokens,
                         CAST(floor(CAST(cum - n_tokens AS DOUBLE) / 512.0) AS BIGINT) AS bin
                  FROM c)
            SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                   string_agg(text, ' <eod> ' ORDER BY doc_id) AS packed_text
            FROM b GROUP BY 1, 2 ORDER BY source, bin"""))

  // ---------------------------------------------------------------------
  // North-star: deduplication (documents table)
  // ---------------------------------------------------------------------

  private val qDedupExact = Q(
    (s, dir) =>
      graft.dedup.NearDup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("keeper_id"),
    Some("""SELECT md5(lower(text)) AS fingerprint, MIN(doc_id) AS keeper_id,
                   CAST(COUNT(*) AS BIGINT) AS dup_count
            FROM documents GROUP BY md5(lower(text)) ORDER BY keeper_id"""))

  private val qNgramJaccard = Q(
    (s, dir) => {
      import graft.text.TextAnalysis.tokens
      val d = t(s, dir, "documents")
        .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      val a = d.select(col("doc_id").as("id_a"), col("toks").as("ta"))
      val b = d.select(col("doc_id").as("id_b"), col("toks").as("tb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          round(graft.dedup.NearDup.jaccard(col("ta"), col("tb")), 6).as("jaccard"))
        .orderBy("id_a")
    },
    Some("""WITH d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                         CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE), 6) AS jaccard
            FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
            ORDER BY id_a"""))

  /** MinHash+LSH near-dup pairs. Hash-checked end to end: md5-derived
    * signatures (NearDup.md5Long) let the oracle replay banding, bucket
    * caps, the estimate prefilter and exact verification stage-for-stage.
    * Scoped to doc_id < 1000 because the synthetic corpus is
    * pathologically self-similar (≈74% of all pairs exceed Jaccard 0.5).
    */
  private val qMinHash = Q(
    (s, dir) =>
      graft.dedup.NearDup.minHashLsh(
        t(s, dir, "documents").filter(col("doc_id") < 1000),
        "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
    Some(s"""WITH base AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 1000),
            ${minHashPairsCtes(bands = 4, rowsPerBand = 4, threshold = 0.9, maxBucket = 1000)}
            SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM pairs ORDER BY id_a, id_b"""))

  /** Duplicate-CLUSTER resolution ([[graft.dedup.DupClusters]]): the LSH
    * pair graph collapsed by connected components — "A≈B, B≈C" keeps ONE
    * doc for {A,B,C} even though (A,C) was never emitted as a pair. The
    * oracle replays the identical md5-replayed pair set and closes it with
    * a recursive reachability CTE (min reachable id = cluster id), proving
    * the iterative min-label-propagation loop against an independent
    * fixpoint formulation.
    */
  private val qDupClusters = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val pairs = graft.dedup.NearDup.minHashLsh(
        docs, "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
      graft.dedup.DupClusters.clusterReport(docs, "doc_id", pairs)
        .orderBy("id")
    },
    Some(s"""WITH RECURSIVE base AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 1000),
            ${minHashPairsCtes(bands = 4, rowsPerBand = 4, threshold = 0.9, maxBucket = 1000)},
            e AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (SELECT src, src FROM e
                             UNION
                             SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
            cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
            SELECT b.id, COALESCE(cc.cluster_id, b.id) AS cluster_id,
                   COALESCE(cc.cluster_id, b.id) = b.id AS is_keeper
            FROM base b LEFT JOIN cc ON cc.id = b.id ORDER BY b.id"""))

  /** The SAME cluster report computed by large-star/small-star
    * contraction ([[graft.dedup.DupClusters.clusterReportStar]],
    * Kiveris et al. SoCC 2014) instead of min-label propagation — the
    * O(log n)-round form that survives long-chain graphs where label
    * propagation needs O(diameter) shuffles. Both fixpoints are
    * min-id-per-component, so this shares q_dup_clusters' oracle
    * verbatim: one recursive-CTE truth, two independent distributed
    * algorithms proven against it.
    */
  private val qDupClustersStar = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val pairs = graft.dedup.NearDup.minHashLsh(
        docs, "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
      graft.dedup.DupClusters.clusterReportStar(docs, "doc_id", pairs)
        .orderBy("id")
    },
    qDupClusters.oracle)

  /** INCREMENTAL duplicate-cluster maintenance ([[graft.dedup
    * .DupClusters.mergeComponents]]): the pair set is split into two
    * deterministic batches (id_a parity), batch 1 is clustered from
    * scratch, then batch 2's edges are FOLDED into that labeling via the
    * quotient-graph merge — no CC rerun over batch 1's graph. Shares
    * q_dup_clusters' one-shot recursive-CTE oracle verbatim: the
    * two-batch fold must land on the same fixpoint as one CC over the
    * union of all pairs (associativity of component merging under the
    * min-id contract). This is the ingest-loop read path: the
    * incremental pair detectors (LSH/SimHash/exact batch-vs-history)
    * emit batch edges, and cluster ids refresh at batch cost.
    */
  private val qDupClustersIncremental = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      // one pair pass, two batch slices — checkpoint so the LSH chain
      // (signatures + banded join + verify) runs once, not per slice
      val pairs = graft.dedup.NearDup.minHashLsh(
        docs, "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
        .localCheckpoint()
      val labels1 = graft.dedup.DupClusters.connectedComponentsStar(
        pairs.filter(col("id_a") % 2 === 0))
      val merged = graft.dedup.DupClusters.mergeComponents(
        labels1, pairs.filter(col("id_a") % 2 === 1))
      graft.dedup.DupClusters.clusterReportFromLabels(docs, "doc_id", merged)
        .orderBy("id")
    },
    qDupClusters.oracle)

  /** STREAMING cluster-label maintenance ([[graft.streaming
    * .ClusterIngest]]): the LSH pair set arrives as a file-source
    * STREAM (4 files, one per micro-batch) and each micro-batch's edges
    * are folded into a persistent label store via
    * [[graft.dedup.DupClusters.mergeComponentsDelta]] — only the rows a
    * batch actually changed are written (append-only `batch_id`
    * segments, exactly-once dynamic overwrite), and the read path is
    * latest-per-id. Because component merging is associative, the final
    * labeling is invariant to the micro-batch split and equals the
    * one-shot CC fixpoint — q_dup_clusters' recursive-CTE oracle is
    * shared verbatim, now proven through the streaming engine +
    * segment-store round trip.
    */
  private val qStreamDupClusters = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val tmp = scratchDir("graft_stream_dup_clusters")
      val pairsPath = tmp.resolve("pairs").toString
      val storePath = tmp.resolve("labels").toString
      val ckpt = tmp.resolve("ckpt").toString
      NioLocalFileSystem.write(graft.dedup.NearDup.minHashLsh(
          docs, "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
          .repartition(4))
        .mode("overwrite").parquet(pairsPath)
      val sch = s.read.parquet(pairsPath).schema
      val pairStream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(pairsPath)
      val q = graft.streaming.ClusterIngest.start(
        s, pairStream, storePath, ckpt)
      q.awaitTermination()
      graft.dedup.DupClusters.clusterReportFromLabels(docs, "doc_id",
          graft.streaming.ClusterIngest.readLabels(s, storePath))
        .orderBy("id")
    },
    qDupClusters.oracle)

  /** Quality-aware canonical pick ([[graft.dedup.DupClusters
    * .canonicalPick]]): within each near-dup cluster keep the
    * highest-token-count copy (tie → smaller id). The oracle replays the
    * ENTIRE chain — minhash pairs, recursive-CTE connected components,
    * and the per-cluster argmax — so the selected canonical set is proven
    * end-to-end, not just the clustering.
    */
  private val qDupCanonical = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val pairs = graft.dedup.NearDup.minHashLsh(
        docs, "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
      val scored = docs.withColumn("score",
        graft.text.TextAnalysis.tokenCount(col("text")))
      graft.dedup.DupClusters.canonicalPick(scored, "doc_id", "score", pairs)
        .orderBy("id")
    },
    Some(s"""WITH RECURSIVE base AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 1000),
            ${minHashPairsCtes(bands = 4, rowsPerBand = 4, threshold = 0.9, maxBucket = 1000)},
            e AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (SELECT src, src FROM e
                             UNION
                             SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
            cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
            scored AS (
              SELECT b.id, COALESCE(cc.cluster_id, b.id) AS cluster_id,
                     len(string_split(b.text, ' ')) AS score
              FROM base b LEFT JOIN cc ON cc.id = b.id),
            canon AS (
              SELECT cluster_id, id AS canonical_id FROM (
                SELECT cluster_id, id,
                       row_number() OVER (PARTITION BY cluster_id
                         ORDER BY score DESC, id) AS rk
                FROM scored) WHERE rk = 1)
            SELECT s.id, s.cluster_id, c.canonical_id,
                   s.id = c.canonical_id AS is_canonical
            FROM scored s JOIN canon c USING (cluster_id)
            ORDER BY s.id"""))

  /** SimHash near-dup pairs by Hamming radius. The oracle is deliberately
    * the BRUTE-FORCE all-pairs form — simHashNearDups' pigeonhole blocking
    * is an optimization that must lose no pairs, so hash-matching against
    * all-pairs proves both the md5 bit construction AND that the blocked
    * join's recall is exact.
    */
  private val qSimHash = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val sims = graft.dedup.NearDup.simHash(docs, "doc_id", "text")
      graft.dedup.NearDup.simHashNearDups(sims, maxHamming = 10)
        .orderBy("id_a", "id_b")
    },
    Some(simHashBruteForceSql(maxHamming = 10)))

  /** Incremental SimHash near-dup ([[graft.dedup.NearDup
    * .simHashNearDupsAgainstCorpus]]): each batch hash checked against
    * the seen corpus's hashes through the pigeonhole-blocked join —
    * completing the incremental family (exact and MinHash-LSH already
    * have batch-vs-history forms), and the incremental read path for
    * the perceptual image/audio hashes (same 64-bit shape). The oracle
    * replays hash construction and brute-force CROSS-pair Hamming
    * ground truth, so the blocked join's recall guarantee is checked
    * against an unblocked reference.
    */
  private val qSimHashIncremental = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val newSims = graft.dedup.NearDup.simHash(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      val seenSims = graft.dedup.NearDup.simHash(
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 1000), "doc_id", "text")
      graft.dedup.NearDup.simHashNearDupsAgainstCorpus(newSims, seenSims,
        maxHamming = 10)
        .orderBy("new_id", "seen_id")
    },
    Some(s"""WITH ${simHashPairsCtesCross(maxHamming = 10, split = 250)}
            SELECT new_id, seen_id, hamming FROM xspairs
            ORDER BY new_id, seen_id"""))

  // ---------------------------------------------------------------------
  // North-star: similarity search (embeddings table)
  // ---------------------------------------------------------------------

  private val qAnnBrute = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.similarity.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
        .orderBy("qid", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
                 s AS (SELECT qid, cid, ROUND(list_cosine_similarity(qv, cv), 6) AS cosine
                       FROM q CROSS JOIN c WHERE cid <> qid),
                 r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rk FROM s)
            SELECT qid, CAST(rk AS INTEGER) AS rank, cid, cosine
            FROM r WHERE rk <= 10 ORDER BY qid, rank"""))

  /** DuckDB rendering of the sign-random-projection bucket id: the SAME
    * hyperplane constants the Spark operator plans as literals, embedded
    * into the SQL (Scala's Double.toString is shortest-round-trip, so the
    * oracle parses back the identical binary doubles; both engines fold
    * dots left-to-right in double). This is what turns "approximate by
    * construction" into "deterministic and externally replayable".
    */
  private def bucketSql(vecExpr: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($vecExpr, [${p.mkString(", ")}]) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** LSH-bucketed approximate top-k — the 100 TB path. Approximate w.r.t.
    * brute force (recall asserted in AnnSpec) but fully deterministic, and
    * the oracle replays the whole construction: per-table buckets from the
    * embedded plane constants, 1-bit-flip multiprobe via xor, exact rank
    * within candidates.
    */
  private val qAnnLsh = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // nBits pinned (default is AutoBits, corpus-count-sized) so the
      // embedded-plane oracle below stays stable across SFs
      graft.similarity.Ann.lshBucketedTopK(emb, emb.filter(col("vec_id") < 5), k = 10, nBits = 8)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
        .orderBy("qid", "rank")
    }, {
      // must mirror the pinned knobs: nBits=8, dim=64, seed=42,
      // nTables=4, k=10 (RegressionSpec pins the plane constants)
      val tablePlanes = (0 until 4).map(tb => graft.similarity.Ann.hyperplanes(8, 64, 42L + tb))
      val cbCase = tablePlanes.zipWithIndex.map { case (p, tb) =>
        s"WHEN ${tb} THEN ${bucketSql("cv", p)}"
      }.mkString("CASE t.tbl ", " ", " END")
      val qbCase = tablePlanes.zipWithIndex.map { case (p, tb) =>
        s"WHEN ${tb} THEN ${bucketSql("qv", p)}"
      }.mkString("CASE t.tbl ", " ", " END")
      Some(s"""WITH tables(tbl) AS (VALUES (0), (1), (2), (3)),
            probes(mask) AS (VALUES (0), (1), (2), (4), (8), (16), (32), (64), (128)),
            cb AS (
              SELECT vec_id AS cid, embedding::DOUBLE[] AS cv, t.tbl,
                     $cbCase AS bucket
              FROM embeddings CROSS JOIN tables t),
            qb AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, t.tbl,
                     $qbCase AS b0
              FROM embeddings CROSS JOIN tables t
              WHERE vec_id < 5),
            qp AS (SELECT qid, qv, tbl, xor(b0, mask) AS bucket
                   FROM qb CROSS JOIN probes),
            s AS (
              SELECT DISTINCT qp.qid, cb.cid,
                     ROUND(list_cosine_similarity(qp.qv, cb.cv), 6) AS cosine
              FROM qp JOIN cb ON cb.tbl = qp.tbl AND cb.bucket = qp.bucket
              WHERE cb.cid <> qp.qid),
            r AS (SELECT *, row_number() OVER (PARTITION BY qid
                                               ORDER BY cosine DESC, cid) AS rk
                  FROM s)
            SELECT qid, CAST(rk AS INTEGER) AS rank, cid, cosine
            FROM r WHERE rk <= 10 ORDER BY qid, rank""")
    })

  /** Corpus-vs-corpus LSH retrieval (every vector is a query) through the
    * NON-broadcast [[graft.similarity.Ann.lshShuffledTopK]] path — the
    * |Q| ≈ |C| trainset-curation shape where broadcasting the query side
    * is impossible. Same embedded-plane-constant oracle technique as
    * q_ann_lsh_topk, plus the corpus-side bucket cap replayed via a
    * HAVING-filtered join.
    */
  private val qAnnRetrieval = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // nBits pinned (default is AutoBits) so the embedded-plane oracle
      // below stays stable across SFs
      graft.similarity.Ann.lshShuffledTopK(emb, emb, k = 5, nBits = 8)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
        .orderBy("qid", "rank")
    }, {
      // mirrors the pinned knobs: nBits=8, dim=64, seed=42,
      // nTables=4, maxBucket=100000, k=5
      val tablePlanes = (0 until 4).map(tb => graft.similarity.Ann.hyperplanes(8, 64, 42L + tb))
      val cbCase = tablePlanes.zipWithIndex.map { case (p, tb) =>
        s"WHEN ${tb} THEN ${bucketSql("cv", p)}"
      }.mkString("CASE t.tbl ", " ", " END")
      val qbCase = tablePlanes.zipWithIndex.map { case (p, tb) =>
        s"WHEN ${tb} THEN ${bucketSql("qv", p)}"
      }.mkString("CASE t.tbl ", " ", " END")
      Some(s"""WITH tables(tbl) AS (VALUES (0), (1), (2), (3)),
            probes(mask) AS (VALUES (0), (1), (2), (4), (8), (16), (32), (64), (128)),
            cb AS (
              SELECT vec_id AS cid, embedding::DOUBLE[] AS cv, t.tbl,
                     $cbCase AS bucket
              FROM embeddings CROSS JOIN tables t),
            okb AS (SELECT tbl, bucket FROM cb GROUP BY tbl, bucket HAVING COUNT(*) <= 100000),
            cbcap AS (SELECT cb.* FROM cb JOIN okb USING (tbl, bucket)),
            qb AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, t.tbl,
                     $qbCase AS b0
              FROM embeddings CROSS JOIN tables t),
            qp AS (SELECT qid, qv, tbl, xor(b0, mask) AS bucket
                   FROM qb CROSS JOIN probes),
            s AS (
              SELECT DISTINCT qp.qid, cbcap.cid,
                     ROUND(list_cosine_similarity(qp.qv, cbcap.cv), 6) AS cosine
              FROM qp JOIN cbcap ON cbcap.tbl = qp.tbl AND cbcap.bucket = qp.bucket
              WHERE cbcap.cid <> qp.qid),
            r AS (SELECT *, row_number() OVER (PARTITION BY qid
                                               ORDER BY cosine DESC, cid) AS rk
                  FROM s)
            SELECT qid, CAST(rk AS INTEGER) AS rank, cid, cosine
            FROM r WHERE rk <= 5 ORDER BY qid, rank""")
    })

  /** Embedding-cosine near-dup pairs (semantic dedup) through LSH buckets.
    * Random test embeddings make high-cosine pairs rare → low threshold
    * keeps the result non-degenerate; rows-only (bucket membership depends
    * on the plane seed), exact-pair semantics covered in AnnSpec.
    */
  /** IVF-flat ANN: sampled centroids, inverted index by cell, nProbe-cell
    * probing. Fully oracle-checkable: centroids are deterministic (bottom-k
    * by md5 priority), and cell assignment/probing is argmax over ROUNDed
    * cosine scores with a cell-id tie-break — DuckDB replays the whole
    * construction with `list_dot_product`/`list_cosine_similarity`. IvfSpec
    * additionally proves probing all cells ≡ brute force.
    */
  private val qAnnIvf = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.centroids(emb, nLists = 16)
      val idx = graft.similarity.Ivf.buildIndex(emb, cents)
      graft.similarity.Ivf.topK(idx, emb.filter(col("vec_id") < 5), cents, k = 10, nProbe = 4)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
        .orderBy("qid", "rank")
    },
    Some("""WITH cents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              LIMIT 16),
            assign AS (
              SELECT cid, cvec, cell FROM (
                SELECT e.vec_id AS cid, e.embedding::DOUBLE[] AS cvec, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings e CROSS JOIN cents c)
              WHERE rn = 1),
            qcells AS (
              SELECT qid, qvec, cell FROM (
                SELECT q.vec_id AS qid, q.embedding::DOUBLE[] AS qvec, c.cell,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY ROUND(list_dot_product(q.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings q CROSS JOIN cents c
                WHERE q.vec_id < 5)
              WHERE rn <= 4),
            scored AS (
              SELECT qc.qid, a.cid,
                     ROUND(list_cosine_similarity(qc.qvec, a.cvec), 6) AS cosine
              FROM qcells qc JOIN assign a ON a.cell = qc.cell
              WHERE a.cid <> qc.qid),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY cosine DESC, cid) AS rk
              FROM scored)
            SELECT qid, CAST(rk AS INTEGER) AS rank, cid, cosine
            FROM ranked WHERE rk <= 10 ORDER BY qid, rank"""))

  /** IVF-flat ANN against a PERSISTED index
    * ([[graft.similarity.Ivf.writeIvfIndex]] →
    * [[graft.similarity.Ivf.topKAgainstIndex]]): centroids + inverted
    * lists are materialized to parquet (lists partitioned by cell) and
    * the probe runs against the STORED tables — steady-state retrieval
    * pays no clustering or corpus-assignment work, and the probed-cell
    * filter is parquet partition pruning. Disk round-trip inside the
    * measured query; identical semantics to the from-raw form
    * (spec-pinned), so [[qAnnIvf]]'s oracle is reused verbatim.
    */
  private val qAnnIvfIndexed = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxPath = scratchDir("graft_ivf_index").resolve("idx").toString
      graft.similarity.Ivf.writeIvfIndex(emb, nLists = 16, idxPath)
      graft.similarity.Ivf.topKAgainstIndex(
        emb.filter(col("vec_id") < 5), idxPath, k = 10, nProbe = 4)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
        .orderBy("qid", "rank")
    },
    qAnnIvf.oracle)

  /** STEADY-STATE IVF probe: the index is built once per session/SF
    * (the [[steadyIndex]] memoizer — under bench policy the untimed
    * warmup pays it) and the measured work is ONLY the probe against
    * the stored centroids + partition-pruned cell lists: the query a
    * production retrieval loop actually runs, split from the
    * rebuild-shaped [[qAnnIvfIndexed]] so the bench row measures the
    * probe, not the write. Same oracle verbatim — steady-state
    * retrieval must stay bit-identical to from-raw.
    */
  private val qAnnIvfSteady = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxPath = steadyIndex("graft_ivf_steady", dir) { p =>
        graft.similarity.Ivf.writeIvfIndex(emb, nLists = 16, p)
      }
      graft.similarity.Ivf.topKAgainstIndex(
        emb.filter(col("vec_id") < 5), idxPath, k = 10, nProbe = 4)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
        .orderBy("qid", "rank")
    },
    qAnnIvf.oracle)

  /** Embedding-cosine near-dup pairs through LSH buckets, bucket-capped.
    * Oracle-replayable via the embedded plane constants (see [[bucketSql]]);
    * caveat shared with the Spark side: zero-norm vectors would diverge
    * (Spark NULLs the cosine, DuckDB yields NaN which sorts high) — the
    * embeddings corpus contract excludes them.
    */
  private val qEmbedNearDup = Q(
    (s, dir) =>
      // nBits pinned (default is AutoBits) so the embedded-plane oracle
      // below stays stable across SFs
      graft.similarity.Ann.embeddingNearDups(t(s, dir, "embeddings"), threshold = 0.3, nBits = 8)
        .orderBy("id_a", "id_b"), {
      // mirrors the pinned knobs: nBits=8, dim=64, seed=42,
      // maxBucket=1000, threshold=0.3
      val planes = graft.similarity.Ann.hyperplanes(8, 64, 42L)
      Some(s"""WITH b AS (
              SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                     ${bucketSql("embedding::DOUBLE[]", planes)} AS bucket
              FROM embeddings),
            kept AS (SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) <= 1000),
            c AS (SELECT b.* FROM b JOIN kept USING (bucket)),
            p AS (
              SELECT a.id AS id_a, x.id AS id_b,
                     ROUND(list_cosine_similarity(a.v, x.v), 6) AS cosine
              FROM c a JOIN c x ON a.bucket = x.bucket AND a.id < x.id)
            SELECT id_a, id_b, cosine FROM p
            WHERE cosine >= 0.3 ORDER BY id_a, id_b""")
    })

  /** INCREMENTAL embedding near-dup ([[graft.similarity.Ann
    * .embeddingNearDupsAgainstCorpus]]): the batch-vs-history form of
    * q_embed_neardup — new vectors (vec_id < 2500) checked against the
    * seen corpus (vec_id ≥ 2500) through the shared LSH buckets, bucket
    * cap on the SEEN side, equal-id skip. Completes the incremental
    * detector family (exact / MinHash / SimHash / embedding-cosine);
    * the oracle replays planes → buckets → seen-side cap → the
    * cross-table bucket join → exact cosine threshold.
    */
  private val qEmbedNearDupIncremental = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // parity split (not a range): the fixture's near-dup structure
      // concentrates in low ids, so a range split would leave the gate
      // row vacuously empty — parity makes real pairs straddle the
      // batch/history boundary
      graft.similarity.Ann.embeddingNearDupsAgainstCorpus(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          threshold = 0.3, nBits = 8)
        .orderBy("new_id", "seen_id")
    }, {
      val planes = graft.similarity.Ann.hyperplanes(8, 64, 42L)
      Some(s"""WITH nb AS (
              SELECT vec_id AS new_id, embedding::DOUBLE[] AS v,
                     ${bucketSql("embedding::DOUBLE[]", planes)} AS bucket
              FROM embeddings WHERE vec_id % 2 = 0),
            sb AS (
              SELECT vec_id AS seen_id, embedding::DOUBLE[] AS v,
                     ${bucketSql("embedding::DOUBLE[]", planes)} AS bucket
              FROM embeddings WHERE vec_id % 2 = 1),
            kept AS (SELECT bucket FROM sb GROUP BY bucket HAVING COUNT(*) <= 1000),
            p AS (
              SELECT n.new_id, s.seen_id,
                     ROUND(list_cosine_similarity(n.v, s.v), 6) AS cosine
              FROM nb n
              JOIN (SELECT sb.* FROM sb JOIN kept USING (bucket)) s
                ON n.bucket = s.bucket AND n.new_id <> s.seen_id)
            SELECT new_id, seen_id, cosine FROM p
            WHERE cosine >= 0.3 ORDER BY new_id, seen_id""")
    })

  /** Persistent embedding near-dup index ([[graft.similarity.Ann
    * .writeEmbedNearDupIndex]] → [[graft.similarity.Ann
    * .embeddingNearDupsAgainstIndex]]): the seen corpus staged ONCE as
    * bucket-partitioned (id, nrm, vec) rows + geometry meta; the probe
    * pays zero seen-side staging and partition-prunes to the batch's
    * buckets. Rebuild-in-row (write + probe — `Bench.superseded`);
    * identical semantics to the from-raw incremental detector, whose
    * oracle is shared verbatim.
    */
  private val qEmbedNearDupIndexed = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxPath = scratchDir("graft_embed_index").resolve("idx").toString
      graft.similarity.Ann.writeEmbedNearDupIndex(
        emb.filter(col("vec_id") % 2 === 1), idxPath, nBits = 8)
      graft.similarity.Ann.embeddingNearDupsAgainstIndex(
          emb.filter(col("vec_id") % 2 === 0), idxPath, threshold = 0.3)
        .orderBy("new_id", "seen_id")
    },
    qEmbedNearDupIncremental.oracle)

  /** STEADY-STATE probe of the stored embedding index ([[steadyIndex]]
    * memoizes the build): what a production ingest batch pays per
    * check. Same oracle verbatim.
    */
  private val qEmbedNearDupSteady = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxPath = steadyIndex("graft_embed_steady", dir) { p =>
        graft.similarity.Ann.writeEmbedNearDupIndex(
          emb.filter(col("vec_id") % 2 === 1), p, nBits = 8)
      }
      graft.similarity.Ann.embeddingNearDupsAgainstIndex(
          emb.filter(col("vec_id") % 2 === 0), idxPath, threshold = 0.3)
        .orderBy("new_id", "seen_id")
    },
    qEmbedNearDupIncremental.oracle)

  /** SEMANTIC decontamination ([[graft.similarity.SemanticDecontam
    * .flagSemanticContaminated]]): train docs whose embedding lands at
    * cosine ≥ 0.3 of ANY benchmark embedding, with top-1 evidence
    * (max cosine, ties → min bench id). Bench = vec_id % 10 = 1 (the
    * benchmark-sized broadcast side), train = the rest. EXACT — recall
    * 1.0, the property the token-side decontam gates can't give for
    * paraphrased leakage. The oracle replays the full product + argmax.
    */
  private val qDecontamSemantic = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.similarity.SemanticDecontam.flagSemanticContaminated(
          emb.filter(col("vec_id") % 10 =!= 1),
          emb.filter(col("vec_id") % 10 === 1), tau = 0.3)
        .orderBy("id")
    },
    Some("""WITH b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id % 10 = 1),
              tr AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                     FROM embeddings WHERE vec_id % 10 <> 1),
              p AS (SELECT t.id, bb.bid,
                           ROUND(list_cosine_similarity(t.v, bb.v), 6) AS cosine
                    FROM tr t CROSS JOIN b bb),
              f AS (SELECT id, bid, cosine,
                           row_number() OVER (PARTITION BY id
                                              ORDER BY cosine DESC, bid) AS rn
                    FROM p WHERE cosine >= 0.3)
            SELECT id, bid AS bench_id, cosine FROM f WHERE rn = 1 ORDER BY id"""))

  /** The filter form ([[graft.similarity.SemanticDecontam
    * .removeSemanticContaminated]]): train minus semantically
    * contaminated docs, via a broadcast nested-loop ANTI join — one
    * corpus pass, zero exchange, per-row short-circuit on the first ≥ τ
    * hit. Output = the surviving rows' (vec_id, label).
    */
  private val qDecontamSemanticRemoved = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.similarity.SemanticDecontam.removeSemanticContaminated(
          emb.filter(col("vec_id") % 10 =!= 1),
          emb.filter(col("vec_id") % 10 === 1), tau = 0.3)
        .select("vec_id", "label")
        .orderBy("vec_id")
    },
    Some("""WITH b AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id % 10 = 1)
            SELECT vec_id, label
            FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v
                  FROM embeddings WHERE vec_id % 10 <> 1) t
            WHERE NOT EXISTS (
              SELECT 1 FROM b bb
              WHERE ROUND(list_cosine_similarity(t.v, bb.v), 6) >= 0.3)
            ORDER BY vec_id"""))

  /** Semantic decontam against the STORED embedding index
    * ([[graft.similarity.SemanticDecontam
    * .flagSemanticContaminatedAgainstIndex]]) — the corpus-sized-benchmark
    * path: bucket-partitioned index of the bench side, partition-pruned
    * probe, top-evidence fold over the same-bucket pairs. Rebuild-in-row
    * (`Bench.superseded`); the oracle replays planes → buckets → cap →
    * bucket join → argmax, so the LSH recall contract is explicit in the
    * checked result.
    */
  private val qDecontamSemanticIndexed = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxPath = scratchDir("graft_semdecon_index").resolve("idx").toString
      graft.similarity.Ann.writeEmbedNearDupIndex(
        emb.filter(col("vec_id") % 10 === 1), idxPath, nBits = 8)
      graft.similarity.SemanticDecontam.flagSemanticContaminatedAgainstIndex(
          emb.filter(col("vec_id") % 10 =!= 1), idxPath, tau = 0.3)
        .orderBy("id")
    }, {
      val planes = graft.similarity.Ann.hyperplanes(8, 64, 42L)
      Some(s"""WITH sb AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS v,
                     ${bucketSql("embedding::DOUBLE[]", planes)} AS bucket
                     FROM embeddings WHERE vec_id % 10 = 1),
              nb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                     ${bucketSql("embedding::DOUBLE[]", planes)} AS bucket
                     FROM embeddings WHERE vec_id % 10 <> 1),
              kept AS (SELECT bucket FROM sb GROUP BY bucket HAVING COUNT(*) <= 1000),
              p AS (SELECT n.id, s.bid,
                           ROUND(list_cosine_similarity(n.v, s.v), 6) AS cosine
                    FROM nb n
                    JOIN (SELECT sb.* FROM sb JOIN kept USING (bucket)) s
                      ON n.bucket = s.bucket AND n.id <> s.bid),
              f AS (SELECT id, bid, cosine,
                           row_number() OVER (PARTITION BY id
                                              ORDER BY cosine DESC, bid) AS rn
                    FROM p WHERE cosine >= 0.3)
            SELECT id, bid AS bench_id, cosine FROM f WHERE rn = 1 ORDER BY id""")
    })

  /** STEADY-STATE semantic decontam probe ([[steadyIndex]] memoizes the
    * bench-index build): what each training batch pays per check in a
    * production gate. Same oracle verbatim.
    */
  private val qDecontamSemanticSteady = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxPath = steadyIndex("graft_semdecon_steady", dir) { p =>
        graft.similarity.Ann.writeEmbedNearDupIndex(
          emb.filter(col("vec_id") % 10 === 1), p, nBits = 8)
      }
      graft.similarity.SemanticDecontam.flagSemanticContaminatedAgainstIndex(
          emb.filter(col("vec_id") % 10 =!= 1), idxPath, tau = 0.3)
        .orderBy("id")
    },
    qDecontamSemanticIndexed.oracle)

  /** The FUSED streaming dedup-ingest loop ([[graft.streaming
    * .ClusterIngest.startFromVectors]]): micro-batches of new embedding
    * vectors are LSH-checked against the static seen corpus and the
    * resulting pairs fold straight into the persistent label store —
    * detector + cluster maintenance in ONE pipeline, the shape a
    * production ingest actually runs. Stream = even vec_ids (4 files,
    * one per micro-batch), seen = odd vec_ids; the oracle replays the
    * detector (planes → buckets → seen-side cap → cosine threshold)
    * and closes its pairs with the recursive-CTE connected components —
    * so the END-TO-END loop (streaming engine + detector + quotient
    * merges + segment store) is hash-checked against one SQL truth.
    */
  private val qStreamEmbedClusters = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = scratchDir("graft_stream_embed_clusters")
      val srcPath = tmp.resolve("src").toString
      val storePath = tmp.resolve("labels").toString
      val ckpt = tmp.resolve("ckpt").toString
      NioLocalFileSystem.write(emb.filter(col("vec_id") % 2 === 0).repartition(4))
        .mode("overwrite").parquet(srcPath)
      val sch = s.read.parquet(srcPath).schema
      val vecStream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(srcPath)
      val q = graft.streaming.ClusterIngest.startFromVectors(
        s, vecStream, emb.filter(col("vec_id") % 2 === 1),
        threshold = 0.3, storePath, ckpt, nBits = 8)
      q.awaitTermination()
      graft.streaming.ClusterIngest.readLabels(s, storePath)
        .orderBy("id")
    }, {
      val planes = graft.similarity.Ann.hyperplanes(8, 64, 42L)
      Some(s"""WITH RECURSIVE nb AS (
              SELECT vec_id AS new_id, embedding::DOUBLE[] AS v,
                     ${bucketSql("embedding::DOUBLE[]", planes)} AS bucket
              FROM embeddings WHERE vec_id % 2 = 0),
            sb AS (
              SELECT vec_id AS seen_id, embedding::DOUBLE[] AS v,
                     ${bucketSql("embedding::DOUBLE[]", planes)} AS bucket
              FROM embeddings WHERE vec_id % 2 = 1),
            kept AS (SELECT bucket FROM sb GROUP BY bucket HAVING COUNT(*) <= 1000),
            p AS (
              SELECT n.new_id, s.seen_id
              FROM nb n
              JOIN (SELECT sb.* FROM sb JOIN kept USING (bucket)) s
                ON n.bucket = s.bucket AND n.new_id <> s.seen_id
              WHERE ROUND(list_cosine_similarity(n.v, s.v), 6) >= 0.3),
            e AS (SELECT new_id AS src, seen_id AS dst FROM p
                  UNION SELECT seen_id, new_id FROM p),
            reach(id, r) AS (SELECT src, src FROM e
                             UNION
                             SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
            cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
            SELECT id, cluster_id FROM cc ORDER BY id""")
    })

  /** STEADY-STATE fused loop ([[graft.streaming.ClusterIngest
    * .startFromIndex]]): the same streamed detector+maintenance
    * pipeline, but the seen side comes off the stored bucket-partitioned
    * embed index ([[steadyIndex]] memoizes the build) — zero seen-side
    * staging per micro-batch, partition-pruned probes. Indexed ≡
    * from-raw, so q_stream_embed_clusters' oracle is shared verbatim.
    */
  private val qStreamEmbedClustersSteady = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxPath = steadyIndex("graft_embed_steady", dir) { p =>
        graft.similarity.Ann.writeEmbedNearDupIndex(
          emb.filter(col("vec_id") % 2 === 1), p, nBits = 8)
      }
      val tmp = scratchDir("graft_stream_embed_clusters_steady")
      val srcPath = tmp.resolve("src").toString
      val storePath = tmp.resolve("labels").toString
      val ckpt = tmp.resolve("ckpt").toString
      NioLocalFileSystem.write(emb.filter(col("vec_id") % 2 === 0).repartition(4))
        .mode("overwrite").parquet(srcPath)
      val sch = s.read.parquet(srcPath).schema
      val vecStream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1").parquet(srcPath)
      val handle = steadyHandle(s, s"embed:$idxPath")(
        graft.similarity.Ann.openEmbedNearDupIndex(s, idxPath))
      val q = graft.streaming.ClusterIngest.startFromHandle(
        s, vecStream, handle, threshold = 0.3, storePath, ckpt)
      q.awaitTermination()
      graft.streaming.ClusterIngest.readLabels(s, storePath)
        .orderBy("id")
    },
    qStreamEmbedClusters.oracle)

  // Shared CTEs for the PQ oracles: md5-sampled codebook rows → per-
  // subspace slices → encode (argmin of ROUND(d²,6), index tie-break).
  // Pinned knobs mirror the Spark side: dim=64, m=4 (dsub=16), ksub=16.
  private val pqCtes =
    """smp AS (
              SELECT cv, rn - 1 AS j FROM (
                SELECT embedding::DOUBLE[] AS cv,
                       row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                          vec_id) AS rn
                FROM embeddings)
              WHERE rn <= 16),
            sp AS (SELECT unnest(generate_series(0, 3)) AS s),
            books AS (
              SELECT sp.s, smp.j, smp.cv[sp.s*16 + 1 : sp.s*16 + 16] AS bv
              FROM smp CROSS JOIN sp),
            subv AS (
              SELECT e.vec_id AS cid, sp.s,
                     (e.embedding::DOUBLE[])[sp.s*16 + 1 : sp.s*16 + 16] AS sv
              FROM embeddings e CROSS JOIN sp),
            enc AS (
              SELECT cid, s, j AS code FROM (
                SELECT v.cid, v.s, b.j,
                       row_number() OVER (PARTITION BY v.cid, v.s
                         ORDER BY ROUND(list_dot_product(v.sv, v.sv)
                                        - 2.0 * list_dot_product(v.sv, b.bv)
                                        + list_dot_product(b.bv, b.bv), 6) ASC,
                                  b.j ASC) AS rk
                FROM subv v JOIN books b ON b.s = v.s)
              WHERE rk = 1)"""

  /** PQ encode ([[graft.similarity.Pq.encode]]): every embedding
    * compressed to m=4 codebook indices (the 64× compression pass —
    * 256 B of float32 → 4 nibbles). The oracle replays sample → slice →
    * argmin, so the entire codebook model AND every code assignment are
    * hash-checked, not just downstream rankings.
    */
  private val qPqEncode = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.similarity.Pq.sampledCodebooks(emb, m = 4, ksub = 16)
      graft.similarity.Pq.encode(emb, cb)
        .select(col("cid"),
          element_at(col("codes"), 1).as("c0"), element_at(col("codes"), 2).as("c1"),
          element_at(col("codes"), 3).as("c2"), element_at(col("codes"), 4).as("c3"))
        .orderBy("cid")
    },
    Some(s"""WITH $pqCtes
            SELECT cid,
                   CAST(MAX(CASE WHEN s = 0 THEN code END) AS INTEGER) AS c0,
                   CAST(MAX(CASE WHEN s = 1 THEN code END) AS INTEGER) AS c1,
                   CAST(MAX(CASE WHEN s = 2 THEN code END) AS INTEGER) AS c2,
                   CAST(MAX(CASE WHEN s = 3 THEN code END) AS INTEGER) AS c3
            FROM enc GROUP BY cid ORDER BY cid"""))

  /** PQ asymmetric-distance top-k ([[graft.similarity.Pq.adcTopK]]):
    * queries rank the COMPRESSED corpus by exact BIGINT sums of
    * micro-unit LUT entries — the ADC formulation where the raw vectors
    * never move after encode. Integer scores make the ranking immune to
    * partition merge order; the oracle replays LUT build and the summed
    * lookup ranking.
    */
  private val qAnnPq = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.similarity.Pq.sampledCodebooks(emb, m = 4, ksub = 16)
      graft.similarity.Pq.adcTopK(emb, emb.filter(col("vec_id") < 5), cb, k = 10)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH $pqCtes,
            lut AS (
              SELECT v.cid AS qid, b.s, b.j,
                     CAST(ROUND((list_dot_product(v.sv, v.sv)
                                 - 2.0 * list_dot_product(v.sv, b.bv)
                                 + list_dot_product(b.bv, b.bv)) * 1000000.0)
                          AS BIGINT) AS lutv
              FROM subv v JOIN books b ON b.s = v.s
              WHERE v.cid < 5),
            scored AS (
              SELECT l.qid, e.cid, CAST(SUM(l.lutv) AS BIGINT) AS iscore
              FROM enc e JOIN lut l ON l.s = e.s AND l.j = e.code
              WHERE e.cid <> l.qid
              GROUP BY l.qid, e.cid),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY iscore ASC, cid) AS rk
              FROM scored)
            SELECT qid, CAST(rk AS INTEGER) AS rank, cid, iscore
            FROM ranked WHERE rk <= 10 ORDER BY qid, rank"""))

  /** IVF-PQ / IVFADC ([[graft.similarity.Pq.ivfAdcTopK]]): the
    * billion-scale composition — queries probe nProbe=4 of 16 IVF cells
    * and ADC-score only the product-quantized codes stored there. The
    * oracle composes the PQ encode/LUT chain with the IVF assignment
    * chain and replays the integer ranking end to end.
    */
  private val qAnnIvfPq = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.centroids(emb, nLists = 16)
      val idx = graft.similarity.Ivf.buildIndex(emb, cents)
      val cb = graft.similarity.Pq.sampledCodebooks(emb, m = 4, ksub = 16)
      graft.similarity.Pq.ivfAdcTopK(
          idx, emb.filter(col("vec_id") < 5), cents, cb, k = 10, nProbe = 4)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH $pqCtes,
            lut AS (
              SELECT v.cid AS qid, b.s, b.j,
                     CAST(ROUND((list_dot_product(v.sv, v.sv)
                                 - 2.0 * list_dot_product(v.sv, b.bv)
                                 + list_dot_product(b.bv, b.bv)) * 1000000.0)
                          AS BIGINT) AS lutv
              FROM subv v JOIN books b ON b.s = v.s
              WHERE v.cid < 5),
            icents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              LIMIT 16),
            iassign AS (
              SELECT cid, cell FROM (
                SELECT e.vec_id AS cid, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings e CROSS JOIN icents c)
              WHERE rn = 1),
            iqcells AS (
              SELECT qid, cell FROM (
                SELECT q.vec_id AS qid, c.cell,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY ROUND(list_dot_product(q.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings q CROSS JOIN icents c
                WHERE q.vec_id < 5)
              WHERE rn <= 4),
            scored AS (
              SELECT l.qid, e.cid, CAST(SUM(l.lutv) AS BIGINT) AS iscore
              FROM enc e
              JOIN iassign a ON a.cid = e.cid
              JOIN iqcells qc ON qc.cell = a.cell
              JOIN lut l ON l.qid = qc.qid AND l.s = e.s AND l.j = e.code
              WHERE e.cid <> qc.qid
              GROUP BY l.qid, e.cid),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY iscore ASC, cid) AS rk
              FROM scored)
            SELECT qid, CAST(rk AS INTEGER) AS rank, cid, iscore
            FROM ranked WHERE rk <= 10 ORDER BY qid, rank"""))

  /** IVFADC against a PERSISTED index
    * ([[graft.similarity.Pq.writeIvfPqIndex]] →
    * [[graft.similarity.Pq.ivfAdcTopKAgainstIndex]]): centroids,
    * codebooks and cell-partitioned CODES are materialized to parquet
    * (no raw vectors in the stored table — the PQ memory story) and the
    * probe runs entirely against the stored artifacts: no clustering,
    * no codebook training, no encoding at query time. Disk round-trip
    * inside the measured query; identical semantics to the from-raw
    * [[qAnnIvfPq]] (spec-pinned), whose oracle is reused verbatim.
    */
  private val qAnnIvfPqIndexed = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxPath = scratchDir("graft_ivfpq_index").resolve("idx").toString
      graft.similarity.Pq.writeIvfPqIndex(emb, nLists = 16, m = 4, ksub = 16, idxPath)
      graft.similarity.Pq.ivfAdcTopKAgainstIndex(
          emb.filter(col("vec_id") < 5), idxPath, k = 10, nProbe = 4)
        .orderBy("qid", "rank")
    },
    qAnnIvfPq.oracle)

  /** STEADY-STATE IVFADC probe ([[qAnnIvfPqIndexed]]'s production
    * split): centroids/codebooks/codes built once per session/SF via
    * [[steadyIndex]], the measured query pays only the LUT build +
    * partition-pruned code lookups. Same oracle verbatim.
    */
  private val qAnnIvfPqSteady = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxPath = steadyIndex("graft_ivfpq_steady", dir) { p =>
        graft.similarity.Pq.writeIvfPqIndex(emb, nLists = 16, m = 4, ksub = 16, p)
      }
      graft.similarity.Pq.ivfAdcTopKAgainstIndex(
          emb.filter(col("vec_id") < 5), idxPath, k = 10, nProbe = 4)
        .orderBy("qid", "rank")
    },
    qAnnIvfPq.oracle)

  /** IVFADC with EXACT re-ranking ([[graft.similarity.Pq
    * .ivfAdcRefineTopK]] — IVFADC+R, the two-stage production pattern):
    * the ADC pass shortlists 40 candidates per query in the compressed
    * domain, then ONLY those rows are re-scored against the raw vectors
    * with the exact squared-L2 distance and re-ranked to top-10. The
    * oracle replays BOTH stages: the full IVFADC chain ranked to the
    * shortlist bound, then the micro-quantized exact-d² refine — so the
    * shortlist membership AND the exact re-ranking are hash-checked.
    * iscore here is the EXACT ‖q − x‖² in micro units, unlike
    * [[qAnnIvfPq]]'s compressed-domain approximation.
    */
  private val qAnnIvfPqRefined = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.centroids(emb, nLists = 16)
      val idx = graft.similarity.Ivf.buildIndex(emb, cents)
      val cb = graft.similarity.Pq.sampledCodebooks(emb, m = 4, ksub = 16)
      graft.similarity.Pq.ivfAdcRefineTopK(
          idx, emb.filter(col("vec_id") < 5), cents, cb,
          k = 10, shortlist = 40, nProbe = 4)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH $pqCtes,
            lut AS (
              SELECT v.cid AS qid, b.s, b.j,
                     CAST(ROUND((list_dot_product(v.sv, v.sv)
                                 - 2.0 * list_dot_product(v.sv, b.bv)
                                 + list_dot_product(b.bv, b.bv)) * 1000000.0)
                          AS BIGINT) AS lutv
              FROM subv v JOIN books b ON b.s = v.s
              WHERE v.cid < 5),
            icents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              LIMIT 16),
            iassign AS (
              SELECT cid, cell FROM (
                SELECT e.vec_id AS cid, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings e CROSS JOIN icents c)
              WHERE rn = 1),
            iqcells AS (
              SELECT qid, cell FROM (
                SELECT q.vec_id AS qid, c.cell,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY ROUND(list_dot_product(q.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings q CROSS JOIN icents c
                WHERE q.vec_id < 5)
              WHERE rn <= 4),
            scored AS (
              SELECT l.qid, e.cid, CAST(SUM(l.lutv) AS BIGINT) AS iscore
              FROM enc e
              JOIN iassign a ON a.cid = e.cid
              JOIN iqcells qc ON qc.cell = a.cell
              JOIN lut l ON l.qid = qc.qid AND l.s = e.s AND l.j = e.code
              WHERE e.cid <> qc.qid
              GROUP BY l.qid, e.cid),
            shortlist AS (
              SELECT qid, cid FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                                             ORDER BY iscore ASC, cid) AS rk
                FROM scored)
              WHERE rk <= 40),
            refined AS (
              SELECT sl.qid, sl.cid,
                     CAST(ROUND((list_dot_product(q.qv, q.qv)
                                 - 2.0 * list_dot_product(q.qv, c.cv)
                                 + list_dot_product(c.cv, c.cv)) * 1000000.0)
                          AS BIGINT) AS iscore
              FROM shortlist sl
              JOIN (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5) q ON q.qid = sl.qid
              JOIN (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                    FROM embeddings) c ON c.cid = sl.cid),
            reranked AS (
              SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY iscore ASC, cid) AS rk
              FROM refined)
            SELECT qid, CAST(rk AS INTEGER) AS rank, cid, iscore
            FROM reranked WHERE rk <= 10 ORDER BY qid, rank"""))

  /** SemDeDup-style semantic dedup ([[graft.similarity.SemDedup
    * .dedupReport]]): centroid-cluster the corpus (md5-sampled cells,
    * the [[graft.similarity.Ivf]] assignment), drop the higher id of
    * every within-cell over-threshold cosine pair. The oracle replays
    * assignment → capped cells → pair threshold → distinct right-sides:
    * the whole verdict is recursion-free, unlike connected components.
    */
  private val qSemanticDedup = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // materialize the assignment ONCE (the GraphStats lesson): the
      // verdict's three consumers — cell sizes, both pair-join sides,
      // join-back — would otherwise each re-run the argmax corpus pass
      val idx = graft.similarity.Ivf.buildIndex(
        emb, graft.similarity.Ivf.centroids(emb, nLists = 8)).localCheckpoint()
      graft.similarity.SemDedup.reportFromIndex(idx, threshold = 0.3, maxCell = 4000)
        .orderBy("id")
    },
    Some("""WITH cents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              LIMIT 8),
            assign AS (
              SELECT cid, cvec, cell FROM (
                SELECT e.vec_id AS cid, e.embedding::DOUBLE[] AS cvec, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings e CROSS JOIN cents c)
              WHERE rn = 1),
            ok AS (SELECT cell FROM assign GROUP BY cell HAVING COUNT(*) <= 4000),
            c2 AS (SELECT a.* FROM assign a JOIN ok USING (cell)),
            drops AS (
              SELECT DISTINCT x.cid AS id
              FROM c2 a JOIN c2 x ON a.cell = x.cell AND a.cid < x.cid
              WHERE ROUND(list_cosine_similarity(a.cvec, x.cvec), 6) >= 0.3)
            SELECT a.cid AS id, a.cell, (d.id IS NULL) AS kept
            FROM assign a LEFT JOIN drops d ON d.id = a.cid
            ORDER BY 1"""))

  /** Count-Min sketch frequency monitor ([[graft.ops.Sketches
    * .countMinSketch]] / [[graft.ops.Sketches.countMinEstimate]]):
    * depth-4 × width-16 sketch over the corpus token stream (width
    * deliberately tiny so buckets collide and the one-sided CMS error is
    * visible in the result), estimates read back for the exact top-20
    * tokens. The md5 hash family makes the sketch itself bit-replayable
    * in DuckDB — a hash-checkable sketch, unlike the HLL tier.
    */
  private val qCmsTopk = Q(
    (s, dir) => {
      val tokCounts = t(s, dir, "documents")
        .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("exact_cnt"))
        // vocab-sized; three consumers (sketch build, top-k, estimate)
        .localCheckpoint()
      val sketch = graft.ops.Sketches.countMinSketch(
        tokCounts, "token", "exact_cnt", depth = 4, width = 16)
      val top = tokCounts.orderBy(col("exact_cnt").desc, col("token")).limit(20)
      graft.ops.Sketches.countMinEstimate(sketch, top, "token", depth = 4, width = 16)
        .join(top, Seq("token"))
        .select(col("token"), col("exact_cnt"), col("cms_est"))
        .orderBy(col("exact_cnt").desc, col("token"))
    },
    Some(s"""WITH tc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
                         FROM (SELECT unnest(string_split(text, ' ')) AS token
                               FROM documents)
                         GROUP BY token),
             rs AS (SELECT r FROM generate_series(0, 3) AS g(r)),
             sk AS (SELECT r, ${md5LongSql("r::VARCHAR || '|' || token")} % 16 AS bucket,
                           CAST(SUM(exact_cnt) AS BIGINT) AS cnt
                    FROM tc CROSS JOIN rs GROUP BY 1, 2),
             top AS (SELECT token, exact_cnt FROM tc
                     ORDER BY exact_cnt DESC, token LIMIT 20),
             est AS (SELECT token, CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS cms_est
                     FROM (SELECT tp.token, rs.r,
                                  ${md5LongSql("rs.r::VARCHAR || '|' || tp.token")} % 16 AS bucket
                           FROM top tp CROSS JOIN rs) x
                     LEFT JOIN sk ON sk.r = x.r AND sk.bucket = x.bucket
                     GROUP BY token)
             SELECT tp.token, tp.exact_cnt, est.cms_est
             FROM top tp JOIN est USING (token)
             ORDER BY exact_cnt DESC, token"""))

  /** DSIR importance weights ([[graft.text.Dsir.importanceWeights]]):
    * hashed-unigram log-likelihood ratio of the `lang='en'` target
    * subset vs the raw corpus, 512 buckets, micro-quantized per bucket
    * before the per-doc BIGINT sum — the data-selection scorer for
    * steering a 100 TB crawl toward a trusted subset.
    */
  private val qDsirWeights = Q(
    (s, dir) =>
      graft.text.Dsir.importanceWeights(
          t(s, dir, "documents"), "doc_id", "text",
          targetPred = col("lang") === "en", buckets = 512)
        .orderBy("id"),
    Some(s"""WITH tb AS (
              SELECT doc_id AS id, (lang = 'en') AS is_t,
                     ${md5LongSql("token")} % 512 AS b
              FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
                    FROM documents)),
            bc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r,
                          CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t
                   FROM tb GROUP BY b),
            tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
                           CAST(SUM(c_t) AS BIGINT) AS n_t FROM bc),
            lr AS (SELECT b,
                          CAST(ROUND(ln((CAST(c_t + 1 AS DOUBLE) * CAST(n_r + 512 AS DOUBLE))
                                        / (CAST(c_r + 1 AS DOUBLE) * CAST(n_t + 512 AS DOUBLE)))
                                     * 1000000.0) AS BIGINT) AS lr_micro
                   FROM bc CROSS JOIN tot),
            w AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                         CAST(SUM(lr_micro) AS BIGINT) AS weight_micro
                  FROM tb JOIN lr USING (b) GROUP BY id)
            SELECT d.doc_id AS id, COALESCE(w.n_tokens, 0) AS n_tokens,
                   COALESCE(w.weight_micro, 0) AS weight_micro
            FROM documents d LEFT JOIN w ON w.id = d.doc_id
            ORDER BY id"""))

  /** Per-source KL drift ([[graft.text.CorpusStats.sourceKlDrift]]):
    * KL(p_source ‖ p_corpus) over token unigrams, fixed-point weighted
    * sum — the shard-health diagnostic for a multi-source corpus.
    */
  private val qSourceKl = Q(
    (s, dir) =>
      graft.text.CorpusStats.sourceKlDrift(t(s, dir, "documents"), "source", "text")
        .orderBy("source"),
    Some("""WITH st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_sw
                        FROM (SELECT source, unnest(string_split(text, ' ')) AS token
                              FROM documents)
                        GROUP BY source, token),
            tt AS (SELECT token, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM st GROUP BY token),
            srct AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s FROM st GROUP BY source),
            g AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_all FROM tt),
            q AS (SELECT st.source, st.c_sw,
                         CAST(ROUND(ln(CAST(st.c_sw AS DOUBLE) * CAST(n_all AS DOUBLE)
                                       / (CAST(n_s AS DOUBLE) * CAST(c_w AS DOUBLE)))
                                    * 1000000.0) AS BIGINT) AS q_micro
                  FROM st JOIN tt USING (token) JOIN srct USING (source) CROSS JOIN g)
            SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_tokens,
                   CAST(SUM(c_sw * q_micro) AS BIGINT) AS kl_sum_micro,
                   ROUND(SUM(c_sw * q_micro) / CAST(SUM(c_sw) AS BIGINT) / 1000000.0, 6) AS kl_nats
            FROM q GROUP BY source ORDER BY source"""))

  /** ANN index evaluation ([[graft.similarity.Ann.recallAtK]]):
    * recall@10 of the nProbe-4 IVF index against exact brute force,
    * per query — the accept/reject number for any approximate index.
    * Oracle = the two operators' own CTE chains joined on hits.
    */
  private val qAnnRecall = Q(
    (s, dir) => {
      // The embeddings table feeds six consumers, but materializing the
      // WHOLE corpus (localCheckpoint emb) measured 28.0 -> 34.8 s at
      // 100x — wide vector rows cost more to pin than the extra
      // columnar scans (the Bm25-tf negative-result rule). The query
      // slice is different: 5 rows consumed by three branches, each of
      // which otherwise re-scans the full parquet because the strided
      // vec_id layout defeats row-group pruning. Checkpointing it costs
      // nothing, removes those scans, and measured 27.1 -> 25.9 s at
      // 100x (warm, median-of-3, 48 g).
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5).localCheckpoint()
      val exact = graft.similarity.Ann.bruteForceTopK(emb, qs, k = 10)
      val cents = graft.similarity.Ivf.centroids(emb, nLists = 16)
      val idx = graft.similarity.Ivf.buildIndex(emb, cents)
      val approx = graft.similarity.Ivf.topK(idx, qs, cents, k = 10, nProbe = 4)
      graft.similarity.Ann.recallAtK(approx, exact, k = 10).orderBy("qid")
    },
    Some("""WITH bq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                        FROM embeddings WHERE vec_id < 5),
            bc AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
            bs AS (SELECT qid, cid, ROUND(list_cosine_similarity(qv, cv), 6) AS cosine
                   FROM bq CROSS JOIN bc WHERE cid <> qid),
            br AS (SELECT *, row_number() OVER (PARTITION BY qid
                                                ORDER BY cosine DESC, cid) AS rk FROM bs),
            bft AS (SELECT qid, cid FROM br WHERE rk <= 10),
            icents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              LIMIT 16),
            iassign AS (
              SELECT cid, cvec, cell FROM (
                SELECT e.vec_id AS cid, e.embedding::DOUBLE[] AS cvec, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings e CROSS JOIN icents c)
              WHERE rn = 1),
            iqcells AS (
              SELECT qid, qvec, cell FROM (
                SELECT q.vec_id AS qid, q.embedding::DOUBLE[] AS qvec, c.cell,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY ROUND(list_dot_product(q.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings q CROSS JOIN icents c
                WHERE q.vec_id < 5)
              WHERE rn <= 4),
            iscored AS (
              SELECT qc.qid, a.cid,
                     ROUND(list_cosine_similarity(qc.qvec, a.cvec), 6) AS cosine
              FROM iqcells qc JOIN iassign a ON a.cell = qc.cell
              WHERE a.cid <> qc.qid),
            iranked AS (
              SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY cosine DESC, cid) AS rk
              FROM iscored),
            ivt AS (SELECT qid, cid FROM iranked WHERE rk <= 10),
            hits AS (SELECT b.qid, CAST(COUNT(x.cid) AS BIGINT) AS n_hits,
                            CAST(COUNT(*) AS BIGINT) AS n_truth
                     FROM bft b LEFT JOIN ivt x ON x.qid = b.qid AND x.cid = b.cid
                     GROUP BY b.qid)
            SELECT qid, n_hits, ROUND(n_hits / CAST(n_truth AS DOUBLE), 6) AS recall
            FROM hits ORDER BY qid"""))

  // ---------------------------------------------------------------------
  // North-star: multimodal plumbing + events (sessionize, JSON)
  // ---------------------------------------------------------------------

  private val qMultimodal = Q(
    (s, dir) => {
      val withBin = graft.multimodal.Multimodal.withBinaryPayload(t(s, dir, "documents"), "text")
      withBin.select(col("doc_id"),
          col("media_meta.n_bytes").cast(LongType).as("n_bytes"),
          col("media_meta.digest").as("digest"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest
            FROM documents ORDER BY doc_id"""))

  /** Real (de-stubbed) media decode ([[graft.multimodal.Multimodal
    * .parseBmp]] via `extractFeatures`'s mapPartitions path): each doc
    * gets a generated 24-bpp BMP payload with doc_id-derived dimensions
    * ([[graft.multimodal.Multimodal.makeBmp]]), the decoder parses the
    * headers and walks the pixel rows, and the oracle predicts the
    * parsed width/height, the 4-byte-aligned file size, and the exact
    * pixel-byte sum in closed form (the fixture's pixel formula
    * `(seed + row*31 + k*7) mod 256` summed over the rows via
    * generate_series) — proving the parse reads REAL pixels, not header
    * echoes. The per-channel mean features are reported as the integer
    * pixel sum they were computed from: `meanAll * 3*n*255` rounds back
    * to the exact byte total.
    */
  private val qBmpDecode = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 1 + (id % 16).toInt
          val h = 1 + (id % 8).toInt
          (id, graft.multimodal.Multimodal.makeBmp(w, h, id))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractFeatures(s, bins)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_bytes"),
          // feats(3) = (sumB+sumG+sumR) / (3n*255); invert to the exact
          // integer byte sum (double holds it exactly at these sizes)
          round(element_at(col("features"), 4) *
            (col("width") * col("height") * lit(3L) * lit(255L)))
            .cast(LongType).as("pixel_byte_sum"))
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     CAST(1 + doc_id % 16 AS INT) AS w,
                     CAST(1 + doc_id % 8 AS INT) AS h
              FROM documents),
            px AS (
              -- fixed-size series (h <= 8, 3w <= 48 by construction)
              -- filtered per doc: DuckDB's generate_series cannot take
              -- lateral column bounds
              SELECT d.doc_id, d.w, d.h,
                     SUM((d.doc_id + r.r * 31 + k.k * 7) % 256) AS psum
              FROM dims d
              JOIN generate_series(0, 7) AS r(r) ON r.r < d.h
              JOIN generate_series(0, 47) AS k(k) ON k.k < 3 * d.w
              GROUP BY d.doc_id, d.w, d.h)
            SELECT doc_id, 'bmp' AS format, w AS width, h AS height,
                   CAST(54 + ((3 * w + 3) // 4) * 4 * h AS INT) AS n_bytes,
                   CAST(psum AS BIGINT) AS pixel_byte_sum
            FROM px ORDER BY doc_id"""))

  /** Second de-stubbed format: 16-bit PCM WAV
    * ([[graft.multimodal.Multimodal.parseWav]] — RIFF chunk walk, no
    * codec library). Same proof shape as q_bmp_decode: generated
    * fixtures with doc_id-derived frame/channel counts, oracle predicts
    * the parsed sample rate, channel count, file size, and the EXACT
    * signed-sample sum reconstructed from the mean-amplitude feature
    * (int8-range fixture amplitudes keep the float inversion exact).
    */
  private val qWavDecode = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, graft.multimodal.Multimodal.makeWav(
            (50 + id % 50).toInt, (1 + id % 2).toInt, 8000, id))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractFeatures(s, bins)
        .select(col("doc_id"), col("format"),
          col("width").as("sample_rate"), col("height").as("channels"),
          col("n_bytes"),
          // feats(0) = sum / (nSamples * 2^15); nSamples = (bytes-44)/2
          round(element_at(col("features"), 1) *
            ((col("n_bytes") - lit(44)) / lit(2)) * lit(32768L))
            .cast(LongType).as("sample_sum"))
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     CAST(50 + doc_id % 50 AS INT) AS frames,
                     CAST(1 + doc_id % 2 AS INT) AS channels
              FROM documents),
            s AS (
              -- flat sample index bounded by frames*channels <= 198
              SELECT d.doc_id, d.frames, d.channels,
                     SUM((d.doc_id + i.i * 13) % 256 - 128) AS ssum
              FROM dims d
              JOIN generate_series(0, 197) AS i(i)
                ON i.i < d.frames * d.channels
              GROUP BY d.doc_id, d.frames, d.channels)
            SELECT doc_id, 'wav' AS format,
                   CAST(8000 AS INT) AS sample_rate, channels,
                   CAST(44 + 2 * frames * channels AS INT) AS n_bytes,
                   CAST(ssum AS BIGINT) AS sample_sum
            FROM s ORDER BY doc_id"""))

  /** Third de-stubbed format, first with a REAL compression codec in the
    * path: PNG ([[graft.multimodal.Multimodal.parsePng]] — chunk walk,
    * java.util.zip Inflater, all five scanline filters inverted). The
    * fixture writer filters each row with type `row mod 5`, so the
    * oracle's closed-form pixel sum only matches if the decoder
    * correctly inverts None, Sub, Up, Average AND Paeth after a real
    * zlib inflate; stored-block zlib keeps the file size closed-form.
    */
  private val qPngDecode = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 1 + (id % 16).toInt
          val h = 1 + (id % 8).toInt
          (id, graft.multimodal.Multimodal.makePng(w, h, id))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractFeatures(s, bins)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_bytes"),
          round(element_at(col("features"), 4) *
            (col("width") * col("height") * lit(3L) * lit(255L)))
            .cast(LongType).as("pixel_byte_sum"))
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     CAST(1 + doc_id % 16 AS INT) AS w,
                     CAST(1 + doc_id % 8 AS INT) AS h
              FROM documents),
            px AS (
              SELECT d.doc_id, d.w, d.h,
                     SUM((d.doc_id + r.r * 31 + k.k * 7) % 256) AS psum
              FROM dims d
              JOIN generate_series(0, 7) AS r(r) ON r.r < d.h
              JOIN generate_series(0, 47) AS k(k) ON k.k < 3 * d.w
              GROUP BY d.doc_id, d.w, d.h)
            SELECT doc_id, 'png' AS format, w AS width, h AS height,
                   CAST(h * (3 * w + 1) + 68 AS INT) AS n_bytes,
                   CAST(psum AS BIGINT) AS pixel_byte_sum
            FROM px ORDER BY doc_id"""))

  /** RGBA PNG decode ([[graft.multimodal.Multimodal.parsePng]] color
    * type 6 — the alpha-plane extension): same proof shape as
    * q_png_decode, but the closed-form byte stream splits by channel
    * position — k%4<3 are color bytes, k%4=3 is alpha — and the oracle
    * predicts BOTH sums; the alpha mean surfaces in feature slot 7, so
    * a decoder that mixed alpha into the color fold (or dropped it)
    * fails on either column.
    */
  private val qPngAlpha = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 1 + (id % 16).toInt
          val h = 1 + (id % 8).toInt
          (id, graft.multimodal.Multimodal.makePng(w, h, id, colorType = 6))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractFeatures(s, bins)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_bytes"),
          round(element_at(col("features"), 4) *
            (col("width") * col("height") * lit(3L) * lit(255L)))
            .cast(LongType).as("pixel_byte_sum"),
          round(element_at(col("features"), 8) *
            (col("width") * col("height") * lit(255L)))
            .cast(LongType).as("alpha_byte_sum"))
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     CAST(1 + doc_id % 16 AS INT) AS w,
                     CAST(1 + doc_id % 8 AS INT) AS h
              FROM documents),
            px AS (
              SELECT d.doc_id, d.w, d.h,
                     SUM(CASE WHEN k.k % 4 < 3
                         THEN (d.doc_id + r.r * 31 + k.k * 7) % 256 ELSE 0 END) AS psum,
                     SUM(CASE WHEN k.k % 4 = 3
                         THEN (d.doc_id + r.r * 31 + k.k * 7) % 256 ELSE 0 END) AS asum
              FROM dims d
              JOIN generate_series(0, 7) AS r(r) ON r.r < d.h
              JOIN generate_series(0, 63) AS k(k) ON k.k < 4 * d.w
              GROUP BY d.doc_id, d.w, d.h)
            SELECT doc_id, 'png' AS format, w AS width, h AS height,
                   CAST(h * (4 * w + 1) + 68 AS INT) AS n_bytes,
                   CAST(psum AS BIGINT) AS pixel_byte_sum,
                   CAST(asum AS BIGINT) AS alpha_byte_sum
            FROM px ORDER BY doc_id"""))

  /** Adam7 INTERLACED PNG decode ([[graft.multimodal.Multimodal
    * .parsePng]] interlace 1 — the last PNG path that previously fell
    * to the stub): seven reduced passes, each filtered independently
    * (type cycling per pass row), scattered back onto the display grid.
    * The decoded pixels are the same closed form as [[qPngDecode]], so
    * the pixel-sum oracle carries over verbatim; n_bytes changes to one
    * filter byte per PASS scanline (the oracle recomputes the Adam7
    * line count per image — small fixtures exercise absent-pass edges,
    * 16×8 exercises all seven passes).
    */
  private val qPngInterlaced = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 1 + (id % 16).toInt
          val h = 1 + (id % 8).toInt
          (id, graft.multimodal.Multimodal.makePng(w, h, id, interlaced = true))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractFeatures(s, bins)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_bytes"),
          round(element_at(col("features"), 4) *
            (col("width") * col("height") * lit(3L) * lit(255L)))
            .cast(LongType).as("pixel_byte_sum"))
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     CAST(1 + doc_id % 16 AS INT) AS w,
                     CAST(1 + doc_id % 8 AS INT) AS h
              FROM documents),
            passes(xs, ys, xst, yst) AS (VALUES
              (0,0,8,8), (4,0,8,8), (0,4,4,8), (2,0,4,4),
              (0,2,2,4), (1,0,2,2), (0,1,1,2)),
            lines AS (
              -- present passes contribute ceil((h-ys)/yst) scanlines
              SELECT d.doc_id,
                     SUM(CASE WHEN d.w > p.xs AND d.h > p.ys
                         THEN (d.h - p.ys + p.yst - 1) // p.yst
                         ELSE 0 END) AS nlines
              FROM dims d CROSS JOIN passes p
              GROUP BY d.doc_id),
            px AS (
              SELECT d.doc_id, d.w, d.h,
                     SUM((d.doc_id + r.r * 31 + k.k * 7) % 256) AS psum
              FROM dims d
              JOIN generate_series(0, 7) AS r(r) ON r.r < d.h
              JOIN generate_series(0, 47) AS k(k) ON k.k < 3 * d.w
              GROUP BY d.doc_id, d.w, d.h)
            SELECT px.doc_id, 'png' AS format, w AS width, h AS height,
                   CAST(3 * w * h + l.nlines + 68 AS INT) AS n_bytes,
                   CAST(psum AS BIGINT) AS pixel_byte_sum
            FROM px JOIN lines l ON l.doc_id = px.doc_id
            ORDER BY px.doc_id"""))

  /** 16-bit PNG decode ([[graft.multimodal.Multimodal.parsePng]] depth
    * 16): samples are big-endian 16-bit and reduce to their HIGH byte,
    * so the oracle sums the closed-form bytes at even positions
    * (k = 2s). Filters run on BYTES with bpp = 6 here — a decoder that
    * kept the 8-bit bpp would corrupt every Sub/Average/Paeth row and
    * miss the sum.
    */
  private val qPng16 = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 1 + (id % 16).toInt
          val h = 1 + (id % 8).toInt
          (id, graft.multimodal.Multimodal.makePng(w, h, id, colorType = 2,
            bitDepth = 16))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractFeatures(s, bins)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_bytes"),
          round(element_at(col("features"), 4) *
            (col("width") * col("height") * lit(3L) * lit(255L)))
            .cast(LongType).as("pixel_byte_sum"))
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     CAST(1 + doc_id % 16 AS INT) AS w,
                     CAST(1 + doc_id % 8 AS INT) AS h
              FROM documents),
            px AS (
              -- sample s (s < 3w) has its high byte at position k = 2s
              SELECT d.doc_id, d.w, d.h,
                     SUM((d.doc_id + r.r * 31 + 2 * s.s * 7) % 256) AS psum
              FROM dims d
              JOIN generate_series(0, 7) AS r(r) ON r.r < d.h
              JOIN generate_series(0, 47) AS s(s) ON s.s < 3 * d.w
              GROUP BY d.doc_id, d.w, d.h)
            SELECT doc_id, 'png' AS format, w AS width, h AS height,
                   CAST(h * (6 * w + 1) + 68 AS INT) AS n_bytes,
                   CAST(psum AS BIGINT) AS pixel_byte_sum
            FROM px ORDER BY doc_id"""))

  /** Fourth de-stubbed format, second with a real compression codec:
    * GIF ([[graft.multimodal.Multimodal.parseGif]] — screen-descriptor
    * walk, 256-entry global color table, and a from-scratch
    * variable-width LZW decoder). The fixture is compressed by the REAL
    * LZW encoder ([[graft.multimodal.Multimodal.lzwEncode]]), so the
    * closed-form pixel sum only matches if the decoder rebuilds the
    * dictionary, grows code widths, and maps every decoded index
    * through the palette correctly. Pixel index and palette channels
    * are both closed-form in doc_id, so the oracle predicts the exact
    * RGB byte sum without ever seeing a GIF byte.
    */
  private val qGifDecode = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 1 + (id % 16).toInt
          val h = 1 + (id % 8).toInt
          (id, graft.multimodal.Multimodal.makeGif(w, h, id))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractFeatures(s, bins)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          round(element_at(col("features"), 4) *
            (col("width") * col("height") * lit(3L) * lit(255L)))
            .cast(LongType).as("pixel_byte_sum"))
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     CAST(1 + doc_id % 16 AS INT) AS w,
                     CAST(1 + doc_id % 8 AS INT) AS h
              FROM documents),
            px AS (
              -- pixel index pi = (id + y*31 + x*7) % 256; palette entry
              -- pi has channels (id + 3*pi) % 256, (id + 5*pi) % 256,
              -- (id + 7*pi) % 256 (makeGif's closed forms)
              SELECT d.doc_id, d.w, d.h,
                     SUM((d.doc_id + 3 * ((d.doc_id + y.y * 31 + x.x * 7) % 256)) % 256
                       + (d.doc_id + 5 * ((d.doc_id + y.y * 31 + x.x * 7) % 256)) % 256
                       + (d.doc_id + 7 * ((d.doc_id + y.y * 31 + x.x * 7) % 256)) % 256) AS psum
              FROM dims d
              JOIN generate_series(0, 7) AS y(y) ON y.y < d.h
              JOIN generate_series(0, 15) AS x(x) ON x.x < d.w
              GROUP BY d.doc_id, d.w, d.h)
            SELECT doc_id, 'gif' AS format, w AS width, h AS height,
                   CAST(psum AS BIGINT) AS pixel_byte_sum
            FROM px ORDER BY doc_id"""))

  /** Baseline JPEG decode through the driver gate
    * ([[graft.multimodal.Multimodal.parseJpeg]]): per-doc grayscale
    * DC-only JPEGs from [[graft.multimodal.Multimodal.makeJpeg]] —
    * the REAL marker walk, canonical Huffman decode, dequantize and
    * IDCT run end-to-end, and because every block is a flat DC-only
    * surface the decoded pixel sum is a closed integer form the oracle
    * reconstructs exactly (the q_gif_decode discipline for the DCT
    * family).
    */
  private val qJpegDecode = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 8 * (1 + (id % 3).toInt)
          val h = 8 * (1 + (id % 2).toInt)
          (id, graft.multimodal.Multimodal.makeJpeg(w, h, id, gray = true))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractFeatures(s, bins)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          round(element_at(col("features"), 4) *
            (col("width") * col("height") * lit(255L)))
            .cast(LongType).as("pixel_byte_sum"))
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     CAST(8 * (1 + doc_id % 3) AS INT) AS w,
                     CAST(8 * (1 + doc_id % 2) AS INT) AS h
              FROM documents),
            px AS (
              -- every 8x8 block is a flat surface of
              -- ((id + bx*31 + by*7) % 200) + 28 (makeJpeg's closed form)
              SELECT d.doc_id, d.w, d.h,
                     SUM(64 * (((d.doc_id + bx.bx * 31 + bb.bb * 7) % 200) + 28)) AS psum
              FROM dims d
              JOIN generate_series(0, 2) AS bx(bx) ON bx.bx * 8 < d.w
              JOIN generate_series(0, 1) AS bb(bb) ON bb.bb * 8 < d.h
              GROUP BY d.doc_id, d.w, d.h)
            SELECT doc_id, 'jpeg' AS format, w AS width, h AS height,
                   CAST(psum AS BIGINT) AS pixel_byte_sum
            FROM px ORDER BY doc_id"""))

  /** PROGRESSIVE JPEG decode ([[graft.multimodal.Multimodal
    * .parseJpeg]] over [[graft.multimodal.Multimodal
    * .makeJpegProgressive]] fixtures): the same DC-only closed form as
    * q_jpeg_decode, delivered as a successive-approximation DC-first
    * scan (Al=1) + DC refinement + per-component EOB-run AC scans —
    * the T.81 G.2 multi-scan machinery must accumulate and refine
    * coefficients across scans to land the identical flat blocks, so
    * q_jpeg_decode's oracle replays verbatim on this query's result.
    */
  private val qJpegProgressive = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 8 * (1 + (id % 3).toInt)
          val h = 8 * (1 + (id % 2).toInt)
          (id, graft.multimodal.Multimodal.makeJpegProgressive(w, h, id, gray = true))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractFeatures(s, bins)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          round(element_at(col("features"), 4) *
            (col("width") * col("height") * lit(255L)))
            .cast(LongType).as("pixel_byte_sum"))
        .orderBy("doc_id")
    },
    qJpegDecode.oracle)

  /** 12-BIT extended-sequential JPEG decode ([[graft.multimodal
    * .Multimodal.parseJpeg]] over [[graft.multimodal.Multimodal
    * .makeJpeg12]] fixtures): SOF1 frames at precision 12 with 16-bit
    * DQT entries and DC categories up to 15 — the same DC-only closed
    * form at 16× amplitude, so after the decoder's documented `>> 4`
    * canonicalization the pixels are bit-identical to the 8-bit twin
    * and q_jpeg_decode's oracle replays VERBATIM.
    */
  private val qJpeg12bit = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 8 * (1 + (id % 3).toInt)
          val h = 8 * (1 + (id % 2).toInt)
          (id, graft.multimodal.Multimodal.makeJpeg12(w, h, id, gray = true))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.extractFeatures(s, bins)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          round(element_at(col("features"), 4) *
            (col("width") * col("height") * lit(255L)))
            .cast(LongType).as("pixel_byte_sum"))
        .orderBy("doc_id")
    },
    qJpegDecode.oracle)

  /** Frame-level PCM audio analysis ([[graft.multimodal.Multimodal
    * .wavFrameStats]]): per 32-sample frame, exact integer energy Σs²
    * and zero-crossing count over the REAL decoded samples of generated
    * mono WAVs — the silence-trim/VAD primitive. Every output field is
    * a closed integer, so the oracle reconstructs the entire analysis
    * from the fixture's sample formula with no float anywhere.
    */
  private val qWavFrames = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, graft.multimodal.Multimodal.makeWav(
            (50 + id % 50).toInt, 1, 8000, id))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.wavFrameStats(s, bins, frameLen = 32)
        .toDF()
        .orderBy("doc_id", "frame_idx")
    },
    Some("""WITH dims AS (
              SELECT doc_id, CAST(50 + doc_id % 50 AS INT) AS n FROM documents),
            smp AS (
              SELECT d.doc_id, i.i AS i,
                     (d.doc_id + i.i * 13) % 256 - 128 AS s
              FROM dims d JOIN generate_series(0, 98) AS i(i) ON i.i < d.n),
            sl AS (
              SELECT doc_id, i, s,
                     lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS sp
              FROM smp)
            SELECT doc_id, CAST(i // 32 AS INT) AS frame_idx,
                   CAST(COUNT(*) AS INT) AS n_samples,
                   CAST(SUM(s * s) AS BIGINT) AS energy,
                   CAST(COUNT(*) FILTER (WHERE i % 32 <> 0 AND s * sp < 0)
                        AS BIGINT) AS zcross
            FROM sl GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Nearest-neighbor image resize ([[graft.multimodal.Multimodal
    * .resizeBmpNearest]] via [[graft.multimodal.Multimodal
    * .resizePayloads]]'s mapPartitions path), proven end-to-end: each
    * doc's generated BMP (dims 1..16 × 1..8) is resized to a fixed 4×3
    * thumbnail — both UP- and DOWN-sampling exercised — and the output
    * is then fed back through the real decoder, so the check covers
    * "resize emits a well-formed bitmap" AND "it holds exactly the
    * nearest-neighbor pixels". Oracle: dst pixel (x2, y2) reads src
    * image pixel (⌊x2·w/4⌋, ⌊y2·h/3⌋); the fixture formula indexes
    * on-disk (bottom-up) rows, so src image row sy lives at disk row
    * h−1−sy, giving a closed-form byte sum over the 4×3×3 dst grid.
    */
  /** Perceptual audio fingerprinting ([[graft.multimodal.Multimodal
    * .audioFingerprints]]): 64-bit energy-delta hash over the decoded
    * PCM stream — 65 truncated-division frames, exact integer energies,
    * bit i = energy(i+1) > energy(i). The oracle rebuilds every sample
    * from the WAV fixture's closed form, re-bins them with a range join
    * against the same integer frame bounds, and assembles the hash
    * through the HUGEINT wrap; sub-65-sample payloads emit NO row on
    * either side (mono 50-64-frame docs — the edge is data, not spec).
    */
  private val qAudioFingerprint = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, graft.multimodal.Multimodal.makeWav(
            (50 + id % 50).toInt, (1 + id % 2).toInt, 8000, id))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     (CAST(50 + doc_id % 50 AS INT) * CAST(1 + doc_id % 2 AS INT)) AS n
              FROM documents),
            d2 AS (SELECT doc_id, n FROM dims WHERE n >= 65),
            sm AS (SELECT doc_id, n, i.i AS i,
                          ((doc_id + i.i * 13) % 256 - 128) AS v
                   FROM d2 JOIN generate_series(0, 197) i(i) ON i.i < n),
            fr AS (SELECT d2.doc_id, f.f AS f,
                          (f.f * d2.n) // 65 AS lo, ((f.f + 1) * d2.n) // 65 AS hi
                   FROM d2 JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(sm.v * sm.v) AS BIGINT) AS e
                   FROM fr JOIN sm ON sm.doc_id = fr.doc_id
                     AND sm.i >= fr.lo AND sm.i < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id"""))

  /** IEEE-FLOAT WAV through the fingerprint gate (format tag 3 —
    * r17 session 2): float32 (even ids) and float64 (odd ids) files
    * whose sample i stores exactly `s(i) / 32768` under [[graft
    * .multimodal.Multimodal.makeWav]]'s integer law, recovered by the
    * decoder's PINNED `clamp(trunc(f · 32768))` canonicalization — so
    * the oracle is q_audio_fingerprint's SQL VERBATIM: float storage,
    * width and the conversion law are all absent from it, which IS the
    * storage-invariance proof (a float re-encoding of a PCM stream
    * fingerprints identically).
    */
  private val qAudioFingerprintFloat = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val plain = graft.multimodal.Multimodal.makeWavFloat(
            (50 + id % 50).toInt, (1 + id % 2).toInt, 8000, id,
            bits = if (id % 2 == 0) 32 else 64)
          // ids 2,3 mod 4 wrap in WAVE_FORMAT_EXTENSIBLE (r17 s2) —
          // same decoded samples, so the oracle is untouched
          (id, if (id % 4 >= 2)
            graft.multimodal.Multimodal.toExtensibleWav(plain) else plain)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     (CAST(50 + doc_id % 50 AS INT) * CAST(1 + doc_id % 2 AS INT)) AS n
              FROM documents),
            d2 AS (SELECT doc_id, n FROM dims WHERE n >= 65),
            sm AS (SELECT doc_id, n, i.i AS i,
                          ((doc_id + i.i * 13) % 256 - 128) AS v
                   FROM d2 JOIN generate_series(0, 197) i(i) ON i.i < n),
            fr AS (SELECT d2.doc_id, f.f AS f,
                          (f.f * d2.n) // 65 AS lo, ((f.f + 1) * d2.n) // 65 AS hi
                   FROM d2 JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(sm.v * sm.v) AS BIGINT) AS e
                   FROM fr JOIN sm ON sm.doc_id = fr.doc_id
                     AND sm.i >= fr.lo AND sm.i < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id"""))

  /** SPECTRAL-envelope audio fingerprint ([[graft.multimodal.Multimodal
    * .audioSpectralFingerprints]]): 16 time frames × 4 modulation
    * bands — per-frame 8-point mean-power envelopes projected through
    * the 32 embedded quantized-DCT constants, bit = strict response
    * sign. Complements q_audio_fingerprint's loudness-trajectory key
    * with within-frame modulation structure; the oracle rebuilds every
    * sample, every envelope cell (non-negative integer division — no
    * floor/trunc divergence), every band response and every bit.
    * Mono sub-128-sample docs emit NO row on either side.
    */
  private val qAudioSpectral = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, graft.multimodal.Multimodal.makeWav(
            (50 + id % 50).toInt, (1 + id % 2).toInt, 8000, id))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioSpectralFingerprints(s, bins)
        .orderBy("doc_id")
    }, {
      val basis = graft.multimodal.Multimodal.SpecBasis.mkString(", ")
      Some(s"""WITH dims AS (
              SELECT doc_id,
                     (CAST(50 + doc_id % 50 AS INT) * CAST(1 + doc_id % 2 AS INT)) AS n
              FROM documents),
            d2 AS (SELECT doc_id, n FROM dims WHERE n >= 128),
            sm AS (SELECT doc_id, n, i.i AS i,
                          ((doc_id + i.i * 13) % 256 - 128) AS v
                   FROM d2 JOIN generate_series(0, 197) i(i) ON i.i < n),
            fr AS (SELECT d2.doc_id, f.f AS f,
                          (f.f * d2.n) // 16 AS flo, ((f.f + 1) * d2.n) // 16 AS fhi
                   FROM d2 JOIN generate_series(0, 15) f(f) ON TRUE),
            ch AS (SELECT fr.doc_id, fr.f, k.k AS k,
                          fr.flo + (k.k * (fr.fhi - fr.flo)) // 8 AS lo,
                          fr.flo + ((k.k + 1) * (fr.fhi - fr.flo)) // 8 AS hi
                   FROM fr JOIN generate_series(0, 7) k(k) ON TRUE),
            en AS (SELECT ch.doc_id, ch.f, ch.k,
                          CAST(SUM(sm.v * sm.v) AS BIGINT) // (ch.hi - ch.lo) AS e
                   FROM ch JOIN sm ON sm.doc_id = ch.doc_id
                     AND sm.i >= ch.lo AND sm.i < ch.hi
                   GROUP BY ch.doc_id, ch.f, ch.k, ch.hi, ch.lo),
            basis AS (SELECT t.i // 8 + 1 AS b, t.i % 8 AS k,
                             CAST(([$basis])[t.i + 1] AS BIGINT) AS c
                      FROM generate_series(0, 31) t(i)),
            resp AS (SELECT en.doc_id, en.f, basis.b, SUM(en.e * basis.c) AS r
                     FROM en JOIN basis ON basis.k = en.k
                     GROUP BY 1, 2, 3),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN r > 0
                              THEN (1::HUGEINT << (f * 4 + b - 1))
                              ELSE 0::HUGEINT END) AS s
                   FROM resp GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS asfp
            FROM hs ORDER BY doc_id""")
    })

  /** Audio fingerprinting over FLAC payloads ([[graft.multimodal.Flac
    * .decode]] → the shared energy-delta fold): REAL compressed streams
    * — Rice-coded FIXED and LPC predictors, all four stereo channel
    * assignments cycling across frames — whose decoded PCM follows the
    * WAV fixture's exact closed form, so the oracle reconstructs the
    * fingerprint from the sample formula without modeling the codec at
    * all: losslessness IS the oracle trick (any decode error anywhere
    * in the predictor/residual/decorrelation chain moves some frame
    * energy and flips bits).
    */
  private val qAudioFingerprintFlac = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, graft.multimodal.Flac.make(
            (192 * (1 + id % 4)).toInt, (1 + id % 2).toInt, 8000, id))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     (CAST(192 * (1 + doc_id % 4) AS INT)
                      * CAST(1 + doc_id % 2 AS INT)) AS n
              FROM documents),
            sm AS (SELECT doc_id, n, i.i AS i,
                          ((doc_id + i.i * 13) % 256 - 128) AS v
                   FROM dims JOIN generate_series(0, 1535) i(i) ON i.i < n),
            fr AS (SELECT dims.doc_id, f.f AS f,
                          (f.f * dims.n) // 65 AS lo, ((f.f + 1) * dims.n) // 65 AS hi
                   FROM dims JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(sm.v * sm.v) AS BIGINT) AS e
                   FROM fr JOIN sm ON sm.doc_id = fr.doc_id
                     AND sm.i >= fr.lo AND sm.i < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id"""))

  /** Ogg-WRAPPED FLAC through the fingerprint gate (r17 session 2):
    * the mapping's first packet carries a verbatim STREAMINFO shell,
    * audio packets carry native frames, and the decode is a SPLICE
    * back into the existing [[graft.multimodal.Flac.decode]] after
    * full Ogg packet reassembly (lacing tables, continuation rules).
    * Fingerprints are functions of DECODED samples, so the Ogg wrap is
    * q_audio_fingerprint_flac's oracle SQL VERBATIM — container
    * paging, the optional vorbis-comment header packet (even ids) and
    * the mapping prefix are all absent from it, which IS the
    * wrap-invariance proof.
    */
  private val qAudioFingerprintOggFlac = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id, graft.multimodal.Multimodal.makeOggFlac(
            (192 * (1 + id % 4)).toInt, (1 + id % 2).toInt, 8000, id,
            withComment = id % 2 == 0))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     (CAST(192 * (1 + doc_id % 4) AS INT)
                      * CAST(1 + doc_id % 2 AS INT)) AS n
              FROM documents),
            sm AS (SELECT doc_id, n, i.i AS i,
                          ((doc_id + i.i * 13) % 256 - 128) AS v
                   FROM dims JOIN generate_series(0, 1535) i(i) ON i.i < n),
            fr AS (SELECT dims.doc_id, f.f AS f,
                          (f.f * dims.n) // 65 AS lo, ((f.f + 1) * dims.n) // 65 AS hi
                   FROM dims JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(sm.v * sm.v) AS BIGINT) AS e
                   FROM fr JOIN sm ON sm.doc_id = fr.doc_id
                     AND sm.i >= fr.lo AND sm.i < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id"""))

  /** LOSSY audio through the real G.711 mu-law decode ([[graft
    * .multimodal.Multimodal.muLawToPcm]] — the ITU expansion law, exact
    * integer arithmetic): mono 8-bit companded WAV fixtures with
    * closed-form bytes, fingerprinted from the DECODED samples. The
    * oracle replays the expansion law itself — invert, rebuild the
    * biased mantissa, shift by segment, strip the bias — then the
    * 65-frame energy-delta fold, end to end in SQL.
    */
  private val qAudioFingerprintMulaw = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 50)
        .map(id => (id, graft.multimodal.Multimodal.makeWavG711(
          (600 + (id % 3) * 37).toInt, 8000, id, aLaw = false)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (SELECT doc_id, CAST(600 + (doc_id % 3) * 37 AS INT) AS n
                   FROM documents WHERE doc_id < 50),
            sm AS (SELECT doc_id, n, i.i AS i,
                          255 - ((doc_id + i.i * 11) % 256) AS u1
                   FROM dims JOIN generate_series(0, 673) i(i) ON i.i < n),
            dec AS (SELECT doc_id, n, i,
                           CASE WHEN u1 >= 128
                                THEN 132 - (((u1 % 16) * 8 + 132) << ((u1 // 16) % 8))
                                ELSE (((u1 % 16) * 8 + 132) << ((u1 // 16) % 8)) - 132
                           END AS v
                    FROM sm),
            fr AS (SELECT dims.doc_id, f.f AS f,
                          (f.f * dims.n) // 65 AS lo, ((f.f + 1) * dims.n) // 65 AS hi
                   FROM dims JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(dec.v * dec.v) AS BIGINT) AS e
                   FROM fr JOIN dec ON dec.doc_id = fr.doc_id
                     AND dec.i >= fr.lo AND dec.i < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id"""))

  /** G.711 A-law twin of [[qAudioFingerprintMulaw]] — XOR 0x55, segment
    * mantissa rebuild (seg 0: +8; seg 1: +0x108; else shifted), sign bit
    * SET means positive. Same fixture/fingerprint frame, different law.
    */
  private val qAudioFingerprintAlaw = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 50)
        .map(id => (id, graft.multimodal.Multimodal.makeWavG711(
          (600 + (id % 3) * 37).toInt, 8000, id, aLaw = true)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (SELECT doc_id, CAST(600 + (doc_id % 3) * 37 AS INT) AS n
                   FROM documents WHERE doc_id < 50),
            sm AS (SELECT doc_id, n, i.i AS i,
                          xor((doc_id + i.i * 11) % 256, 85) AS a
                   FROM dims JOIN generate_series(0, 673) i(i) ON i.i < n),
            mag AS (SELECT doc_id, n, i, a,
                           CASE (a // 16) % 8
                                WHEN 0 THEN (a % 16) * 16 + 8
                                WHEN 1 THEN (a % 16) * 16 + 264
                                ELSE ((a % 16) * 16 + 264) << ((a // 16) % 8 - 1)
                           END AS t
                    FROM sm),
            dec AS (SELECT doc_id, n, i,
                           CASE WHEN a >= 128 THEN t ELSE -t END AS v
                    FROM mag),
            fr AS (SELECT dims.doc_id, f.f AS f,
                          (f.f * dims.n) // 65 AS lo, ((f.f + 1) * dims.n) // 65 AS hi
                   FROM dims JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(dec.v * dec.v) AS BIGINT) AS e
                   FROM fr JOIN dec ON dec.doc_id = fr.doc_id
                     AND dec.i >= fr.lo AND dec.i < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id"""))

  /** LOSSY audio through the real IMA/DVI ADPCM decode ([[graft
    * .multimodal.Multimodal.imaAdpcmDecode]] — the canonical 4-bit
    * differential state machine over the published step/index tables):
    * mono format-0x11 WAV fixtures, 2 independent 132-byte blocks (257
    * samples each: header predictor + 256 nibbles). The oracle replays
    * the WHOLE predictor/step recursion per block as a recursive CTE —
    * clamps, table lookups, low-nibble-first order — then the 65-frame
    * energy-delta fold. The decoded stream is genuinely lossy (4 bits
    * per sample) and still bit-replayable, because the law is integer.
    */
  private val qAudioFingerprintAdpcm = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 40)
        .map(id => (id, graft.multimodal.Multimodal.makeWavImaAdpcm(
          2, 132, 8000, id)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    }, {
      val steps = graft.multimodal.Multimodal.ImaStepTable.mkString(", ")
      Some(s"""WITH RECURSIVE ids AS (SELECT doc_id FROM documents WHERE doc_id < 40),
            init AS (SELECT doc_id, b.b AS b, -1 AS i,
                            CAST((doc_id + 97 * b.b) % 4096 - 2048 AS BIGINT) AS pred,
                            CAST((doc_id + 13 * b.b) % 89 AS BIGINT) AS idx
                     FROM ids JOIN generate_series(0, 1) b(b) ON TRUE),
            rec(doc_id, b, i, pred, idx) AS (
              SELECT doc_id, b, i, pred, idx FROM init
              UNION ALL
              SELECT doc_id, b, i,
                     GREATEST(-32768, LEAST(32767,
                       pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)) AS pred,
                     GREATEST(0, LEAST(88,
                       idx + ([-1, -1, -1, -1, 2, 4, 6, 8])[(nib % 8) + 1])) AS idx
              FROM (
                SELECT doc_id, b, i, pred, idx, nib,
                       step // 8 + (nib // 4) % 2 * step
                         + (nib // 2) % 2 * (step // 2)
                         + (nib % 2) * (step // 4) AS diff
                FROM (
                  SELECT doc_id, b, i, pred, idx, nib,
                         ([$steps])[idx + 1] AS step
                  FROM (
                    SELECT doc_id, b, i + 1 AS i, pred, idx,
                           CASE WHEN (i + 1) % 2 = 0
                             THEN ((doc_id + 131 * b + 7 * (4 + (i + 1) // 2)) % 256) % 16
                             ELSE ((doc_id + 131 * b + 7 * (4 + (i + 1) // 2)) % 256) // 16
                           END AS nib
                    FROM rec WHERE i < 255) n0) n1) n2),
            sm AS (SELECT doc_id, b * 257 + i + 1 AS s, pred AS v FROM rec),
            fr AS (SELECT ids.doc_id, f.f AS f,
                          (f.f * 514) // 65 AS lo, ((f.f + 1) * 514) // 65 AS hi
                   FROM ids JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(sm.v * sm.v) AS BIGINT) AS e
                   FROM fr JOIN sm ON sm.doc_id = fr.doc_id
                     AND sm.s >= fr.lo AND sm.s < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id""")
    })

  /** PCM width envelope ([[graft.multimodal.Multimodal
    * .decodedAudioSamples]]): 8-bit UNSIGNED and 24-bit signed PCM WAV
    * — the two real-world PCM widths beyond 16-bit — through their
    * exact widening laws ((v−128)<<8 and signed 3-byte LE). Even ids
    * carry 8-bit payloads, odd ids 24-bit; the oracle replays both
    * laws under one CASE and the shared fingerprint fold.
    */
  private val qAudioFingerprintPcmWidths = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 50)
        .map(id => (id, graft.multimodal.Multimodal.makeWavPcmWidth(
          600, 8000, id, bits = if (id % 2 == 0) 8 else 24)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 50),
            sm AS (SELECT doc_id, i.i AS i,
                          CASE WHEN doc_id % 2 = 0
                               THEN ((doc_id + i.i * 11) % 256 - 128) * 256
                               ELSE (doc_id + i.i * 9901) % 1000000 - 500000
                          END AS v
                   FROM ids JOIN generate_series(0, 599) i(i) ON TRUE),
            fr AS (SELECT ids.doc_id, f.f AS f,
                          (f.f * 600) // 65 AS lo, ((f.f + 1) * 600) // 65 AS hi
                   FROM ids JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(sm.v * sm.v) AS BIGINT) AS e
                   FROM fr JOIN sm ON sm.doc_id = fr.doc_id
                     AND sm.i >= fr.lo AND sm.i < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id"""))

  /** LOSSY audio through the real MS-ADPCM decode ([[graft.multimodal
    * .Multimodal.msAdpcmDecode]] — the canonical 7-coefficient
    * predictor + delta-adaptation state machine, WAV format tag 2):
    * mono fixtures of 2 independent 132-byte blocks (252 samples each:
    * two header samples + 250 HIGH-nibble-first codes). The oracle
    * replays the WHOLE recursion per block — truncate-toward-zero
    * prediction, int16 clamp, delta adaptation with its floor — then
    * the 65-frame energy-delta fold.
    */
  private val qAudioFingerprintMsAdpcm = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 40)
        .map(id => (id, graft.multimodal.Multimodal.makeWavMsAdpcm(
          2, 132, 8000, id)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    }, {
      val c1 = graft.multimodal.Multimodal.MsAdpcmCoeff1.mkString(", ")
      val c2 = graft.multimodal.Multimodal.MsAdpcmCoeff2.mkString(", ")
      val ad = graft.multimodal.Multimodal.MsAdpcmAdapt.mkString(", ")
      Some(s"""WITH RECURSIVE ids AS (SELECT doc_id FROM documents WHERE doc_id < 40),
            init AS (SELECT doc_id, b.b AS b,
                            CAST(([$c1])[(doc_id + b.b) % 7 + 1] AS BIGINT) AS c1,
                            CAST(([$c2])[(doc_id + b.b) % 7 + 1] AS BIGINT) AS c2,
                            CAST((doc_id + 131 * b.b) % 2000 - 1000 AS BIGINT) AS s1,
                            CAST((doc_id + 77 * b.b) % 2000 - 1000 AS BIGINT) AS s2,
                            CAST(40 + (doc_id * 7 + b.b * 11) % 500 AS BIGINT) AS delta
                     FROM ids JOIN generate_series(0, 1) b(b) ON TRUE),
            rec(doc_id, b, i, c1, c2, s1, s2, delta) AS (
              SELECT doc_id, b, -1, c1, c2, s1, s2, delta FROM init
              UNION ALL
              SELECT doc_id, b, i, c1, c2,
                     GREATEST(-32768, LEAST(32767, basepred + signed * delta)) AS s1,
                     s1 AS s2,
                     LEAST(65535, GREATEST(16, (([$ad])[nib + 1] * delta) // 256)) AS delta
              FROM (
                SELECT doc_id, b, i, c1, c2, s1, s2, delta, nib,
                       CASE WHEN nib >= 8 THEN nib - 16 ELSE nib END AS signed,
                       CASE WHEN s1 * c1 + s2 * c2 >= 0
                            THEN (s1 * c1 + s2 * c2) // 256
                            ELSE -((-(s1 * c1 + s2 * c2)) // 256) END AS basepred
                FROM (
                  SELECT doc_id, b, i + 1 AS i, c1, c2, s1, s2, delta,
                         CASE WHEN (i + 1) % 2 = 0
                           THEN ((doc_id + 131 * b + 7 * (7 + (i + 1) // 2)) % 256) // 16
                           ELSE ((doc_id + 131 * b + 7 * (7 + (i + 1) // 2)) % 256) % 16
                         END AS nib
                  FROM rec WHERE i < 249) n0) n1),
            sm AS (SELECT doc_id, b * 252 AS s, s2 AS v FROM init
                   UNION ALL
                   SELECT doc_id, b * 252 + 1 AS s, s1 AS v FROM init
                   UNION ALL
                   SELECT doc_id, b * 252 + 2 + i AS s, s1 AS v
                   FROM rec WHERE i >= 0),
            fr AS (SELECT ids.doc_id, f.f AS f,
                          (f.f * 504) // 65 AS lo, ((f.f + 1) * 504) // 65 AS hi
                   FROM ids JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(sm.v * sm.v) AS BIGINT) AS e
                   FROM fr JOIN sm ON sm.doc_id = fr.doc_id
                     AND sm.s >= fr.lo AND sm.s < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id""")
    })

  /** Sun .au through the fingerprint gate ([[graft.multimodal
    * .Multimodal.makeAu]] — r17): the legacy-but-living container
    * carrying BOTH decoded encodings — even ids G.711 mu-law (the SAME
    * expansion law as WAV format 7, replayed per sample), odd ids
    * 16-bit linear PCM stored BIG-endian (the byte-order mirror of the
    * WAV path — the law itself is storage-invariant, so the oracle is
    * the WAV closed form untouched). One row, two codecs, one fold.
    */
  private val qAudioFingerprintAu = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 50)
        .map { id =>
          // even ids: mu-law; odd ids rotate the LINEAR encodings —
          // PCM16 / signed-8 / float32 / float64 (r17 s2) — whose
          // decoded samples all follow the SAME law up to a uniform
          // scale the energy-delta fingerprint cancels, so the oracle
          // is UNCHANGED
          val enc = (id % 8) match {
            case 1 => 3; case 3 => 2; case 5 => 6; case 7 => 7; case _ => 1
          }
          (id, graft.multimodal.Multimodal.makeAu(
            (600 + (id % 3) * 37).toInt, 8000, id, muLaw = id % 2 == 0,
            enc = enc))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (SELECT doc_id, CAST(600 + (doc_id % 3) * 37 AS INT) AS n
                   FROM documents WHERE doc_id < 50),
            sm0 AS (SELECT doc_id, n, i.i AS i,
                           255 - ((doc_id + i.i * 11) % 256) AS u1
                    FROM dims JOIN generate_series(0, 673) i(i) ON i.i < n),
            sm AS (SELECT doc_id, n, i,
                          CASE WHEN doc_id % 2 = 0 THEN
                            CASE WHEN u1 >= 128
                                 THEN 132 - (((u1 % 16) * 8 + 132) << ((u1 // 16) % 8))
                                 ELSE (((u1 % 16) * 8 + 132) << ((u1 // 16) % 8)) - 132
                            END
                          ELSE (doc_id + i * 13) % 256 - 128 END AS v
                   FROM sm0),
            fr AS (SELECT dims.doc_id, f.f AS f,
                          (f.f * dims.n) // 65 AS lo, ((f.f + 1) * dims.n) // 65 AS hi
                   FROM dims JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(sm.v * sm.v) AS BIGINT) AS e
                   FROM fr JOIN sm ON sm.doc_id = fr.doc_id
                     AND sm.i >= fr.lo AND sm.i < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id"""))

  /** AIFF through the fingerprint gate ([[graft.multimodal.Multimodal
    * .makeAiff]] — r17): FORM/COMM/SSND walked big-endian (the WAV
    * walk's mirror image, 80-bit extended sample rate parsed in the
    * container), interleaved PCM16 following the WAV fixture's exact
    * closed form — so the oracle is q_audio_fingerprint's replay with
    * AIFF dims, and byte order/container are provably absent from it.
    */
  private val qAudioFingerprintAiff = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 50)
        .map(id => (id, graft.multimodal.Multimodal.makeAiff(
          (300 + (id % 5) * 23).toInt, (1 + id % 2).toInt, 8000, id,
          // r17 s2: every third file is AIFC — NONE (big-endian) or
          // sowt (byte-swapped) — under the SAME oracle; the extended
          // COMM and byte order are provably absent from the law
          aifc = (id % 3) match {
            case 1 => "NONE"; case 2 => "sowt"; case _ => ""
          })))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioFingerprints(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     (CAST(300 + (doc_id % 5) * 23 AS INT)
                      * CAST(1 + doc_id % 2 AS INT)) AS n
              FROM documents WHERE doc_id < 50),
            sm AS (SELECT doc_id, n, i.i AS i,
                          ((doc_id + i.i * 13) % 256 - 128) AS v
                   FROM dims JOIN generate_series(0, 783) i(i) ON i.i < n),
            fr AS (SELECT dims.doc_id, f.f AS f,
                          (f.f * dims.n) // 65 AS lo, ((f.f + 1) * dims.n) // 65 AS hi
                   FROM dims JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(sm.v * sm.v) AS BIGINT) AS e
                   FROM fr JOIN sm ON sm.doc_id = fr.doc_id
                     AND sm.i >= fr.lo AND sm.i < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS afp
            FROM hs ORDER BY doc_id"""))

  /** The MEASURED audio-decode boundary ([[graft.multimodal.Multimodal
    * .audioCoverage]]): a mixed corpus across every sniffable container
    * class — PCM16/FLAC/mu-law/A-law/ADPCM/au/AIFF (decoded +
    * fingerprinted) and MP3/OGG/AAC/AIFC-shaped payloads (valid magics,
    * no decode path) — folded to per-format (n_docs, n_fingerprinted).
    * The formats the tier cannot decode are a NUMBER per corpus, not a
    * footnote; the oracle replays the class arithmetic.
    */
  private val qAudioCoverage = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 450)
        .map { id =>
          val bytes = (id % 18) match {
            case 0 => graft.multimodal.Multimodal.makeWav(600, 1, 8000, id)
            case 1 => graft.multimodal.Flac.make(192, 1, 8000, id)
            case 2 => graft.multimodal.Multimodal.makeWavG711(600, 8000, id, aLaw = false)
            case 3 => graft.multimodal.Multimodal.makeWavG711(600, 8000, id, aLaw = true)
            case 4 => graft.multimodal.Multimodal.makeWavImaAdpcm(2, 132, 8000, id)
            case 5 => graft.multimodal.Multimodal.makeWavMsAdpcm(2, 132, 8000, id)
            case 6 => graft.multimodal.Multimodal.makeWavPcmWidth(600, 8000, id, bits = 8)
            case 7 => graft.multimodal.Multimodal.makeWavPcmWidth(600, 8000, id, bits = 24)
            case 8 => "ID3".getBytes("US-ASCII") ++ Array.tabulate(64)(i => ((id + i) % 256).toByte)
            case 9 => "OggS".getBytes("US-ASCII") ++ Array.tabulate(64)(i => ((id + i) % 256).toByte)
            case 10 => Array(0xff.toByte, 0xf1.toByte) ++ Array.tabulate(64)(i => ((id + i) % 256).toByte)
            // bare (un-containered) MP3: MPEG frame sync + Layer III
            // bits — sniffed into the SAME 'mp3' row as the ID3 case
            case 11 => Array(0xff.toByte, 0xfb.toByte) ++ Array.tabulate(64)(i => ((id + i) % 256).toByte)
            // r17: Sun .au (both encodings decode), AIFF (decodes),
            // AIFC (compressed — sniffs, stays outside)
            case 12 => graft.multimodal.Multimodal.makeAu(600, 8000, id, muLaw = id % 2 == 0)
            case 13 => graft.multimodal.Multimodal.makeAiff(300, 1, 8000, id)
            case 14 => "FORM".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 20) ++
              "AIFC".getBytes("US-ASCII") ++ Array.tabulate(16)(i => ((id + i) % 256).toByte)
            // r17 s2: IEEE-float WAV, both widths — decoded
            case 15 => graft.multimodal.Multimodal.makeWavFloat(300, 1, 8000, id)
            case 16 => graft.multimodal.Multimodal.makeWavFloat(300, 1, 8000, id, bits = 64)
            // r17 s2: Ogg-FLAC sniffs into the SAME 'ogg' row as the
            // junk page stream but DECODES — the ogg row's n_docs and
            // n_fingerprinted now differ by exactly the junk half
            case _ => graft.multimodal.Multimodal.makeOggFlac(192, 1, 8000, id)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.audioCoverage(s, bins)
        .orderBy("format")
    },
    Some("""WITH cls AS (SELECT doc_id, doc_id % 18 AS k FROM documents WHERE doc_id < 450),
            fm AS (SELECT k,
                          CASE k WHEN 0 THEN 'wav_pcm16' WHEN 1 THEN 'flac'
                                 WHEN 2 THEN 'wav_mulaw' WHEN 3 THEN 'wav_alaw'
                                 WHEN 4 THEN 'wav_ima_adpcm' WHEN 5 THEN 'wav_ms_adpcm'
                                 WHEN 6 THEN 'wav_pcm8' WHEN 7 THEN 'wav_pcm24'
                                 WHEN 8 THEN 'mp3' WHEN 11 THEN 'mp3'
                                 WHEN 9 THEN 'ogg' WHEN 17 THEN 'ogg'
                                 WHEN 10 THEN 'aac_adts'
                                 WHEN 12 THEN 'au' WHEN 13 THEN 'aiff'
                                 WHEN 15 THEN 'wav_float32' WHEN 16 THEN 'wav_float64'
                                 ELSE 'aifc' END AS format,
                          CASE WHEN k <= 7 OR k IN (12, 13, 15, 16, 17) THEN 1 ELSE 0 END AS dec
                   FROM (SELECT DISTINCT k FROM cls)),
            agg AS (SELECT fm.format,
                           CAST(COUNT(*) AS BIGINT) AS n_docs,
                           CAST(SUM(fm.dec) AS BIGINT) AS n_fingerprinted
                    FROM cls JOIN fm ON fm.k = cls.k
                    GROUP BY fm.format)
            SELECT format, n_docs, n_fingerprinted FROM agg ORDER BY format"""))

  /** Perceptual image hashing ([[graft.multimodal.Multimodal
    * .imageAHashes]]): 64-bit average hash over the decoded 16×16 BMP
    * grid — 8×8 block means vs the global mean, compared by EXACT
    * integer cross-multiplication, so the oracle reconstructs every one
    * of the 64 bits from the closed-form pixel bytes (bottom-up storage
    * flipped to display rows) and assembles the hash through a HUGEINT
    * accumulator wrapped to signed 64-bit.
    */
  private val qImageAHash = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id, graft.multimodal.Multimodal.makeBmp(16, 16, id)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageAHashes(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH px AS (
              SELECT d.doc_id, r.r AS r, x.x AS x,
                     (d.doc_id + (15 - r.r) * 31 + (3*x.x + 0) * 7) % 256
                   + (d.doc_id + (15 - r.r) * 31 + (3*x.x + 1) * 7) % 256
                   + (d.doc_id + (15 - r.r) * 31 + (3*x.x + 2) * 7) % 256 AS gray
              FROM documents d
              JOIN generate_series(0, 15) r(r) ON TRUE
              JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
            blk AS (SELECT doc_id, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
            FROM hs ORDER BY doc_id"""))

  /** WebP through the metadata pass (r17): stills in all three header
    * forms report canvas dims; animated VP8X files count ANMF frames
    * and sum their millisecond durations — the GIF story in a
    * different container, including the 2+-frames→video kind rule.
    * The hash tier still refuses the format (measured boundary); its
    * metadata is real anyway.
    */
  private val qMediaMetaWebp = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 240)
        .map { id =>
          val bytes = (id % 3) match {
            case 0 => graft.multimodal.Multimodal.makeWebpHeader(
              100 + (id % 7).toInt, 50)
            case 1 => graft.multimodal.Multimodal.makeWebpAnim(
              64, 48, 2 + (id % 3).toInt, 40 + (id % 5).toInt)
            case _ => graft.multimodal.Multimodal.makeWebpAnim(
              32, 32, 1, 90)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.mediaMeta(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 3 AS k FROM documents WHERE doc_id < 240)
            SELECT doc_id,
              CASE WHEN k = 1 THEN 'video' ELSE 'image' END AS kind,
              'webp' AS format,
              CAST(CASE k WHEN 0 THEN 100 + doc_id % 7 WHEN 1 THEN 64
                   ELSE 32 END AS INTEGER) AS width,
              CAST(CASE k WHEN 0 THEN 50 WHEN 1 THEN 48
                   ELSE 32 END AS INTEGER) AS height,
              CAST(CASE WHEN k = 1 THEN 2 + doc_id % 3
                        WHEN k = 2 THEN 1 END AS BIGINT) AS n_frames,
              CAST(NULL AS INTEGER) AS sample_rate,
              CAST(NULL AS INTEGER) AS channels,
              CAST(NULL AS BIGINT) AS n_samples,
              CAST(NULL AS INTEGER) AS orientation,
              CAST(CASE WHEN k = 1 THEN (2 + doc_id % 3) * (40 + doc_id % 5)
                        WHEN k = 2 THEN 90 END AS BIGINT) AS duration_ms
            FROM d ORDER BY doc_id"""))

  /** The r17 s2 image formats through the metadata pass: ICO (largest
    * member's directory dims — the multi-member fixture proves the
    * walk follows size, not order), PNM binary (header-token dims), a
    * P4 bitmap (OUTSIDE the decode envelope, dims still real — the
    * metadata pass is wider by design), and QOI (header dims). Every
    * field replayed.
    */
  private val qMediaMetaImages = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 240)
        .map { id =>
          val M = graft.multimodal.Multimodal
          val bytes = (id % 4) match {
            case 0 => M.makeIco((20 + id % 5).toInt, 16, id, withSmaller = true)
            case 1 => M.makePnm(24, (10 + id % 3).toInt, id)
            case 2 => (s"P4\n24 ${10 + id % 3}\n").getBytes("US-ASCII") ++
              Array.tabulate(48)(i => ((id + i) % 256).toByte)
            case _ => M.makeQoi(18, (12 + id % 2).toInt, id)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.mediaMeta(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 4 AS k FROM documents WHERE doc_id < 240)
            SELECT doc_id, 'image' AS kind,
              CASE k WHEN 0 THEN 'ico' WHEN 3 THEN 'qoi' ELSE 'pnm' END AS format,
              CAST(CASE k WHEN 0 THEN 20 + doc_id % 5 WHEN 3 THEN 18
                   ELSE 24 END AS INTEGER) AS width,
              CAST(CASE k WHEN 0 THEN 16 WHEN 1 THEN 10 + doc_id % 3
                   WHEN 2 THEN 10 + doc_id % 3
                   ELSE 12 + doc_id % 2 END AS INTEGER) AS height,
              CAST(NULL AS BIGINT) AS n_frames,
              CAST(NULL AS INTEGER) AS sample_rate,
              CAST(NULL AS INTEGER) AS channels,
              CAST(NULL AS BIGINT) AS n_samples,
              CAST(NULL AS INTEGER) AS orientation,
              CAST(NULL AS BIGINT) AS duration_ms
            FROM d ORDER BY doc_id"""))

  /** MULTI-PAGE TIFF through the metadata pass ([[graft.multimodal
    * .Multimodal.tiffPageCount]] — r17 s2): scanned-document files are
    * routinely IFD chains; the page count is the pruning fact,
    * reported as n_frames when ≥ 2 (single-page files stay NULL like
    * every other still; kind stays image — pages are a document's,
    * not an animation's). The header-only walk reads entry counts and
    * next pointers, never tags or pixels.
    */
  private val qMediaMetaTiffPages = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 200)
        .map(id => (id, graft.multimodal.Multimodal.makeTiffMultipage(
          14, 9, id, (1 + id % 4).toInt)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.mediaMeta(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, 1 + doc_id % 4 AS p
                       FROM documents WHERE doc_id < 200)
            SELECT doc_id, 'image' AS kind, 'tiff' AS format,
              CAST(14 AS INTEGER) AS width,
              CAST(9 AS INTEGER) AS height,
              CAST(CASE WHEN p >= 2 THEN p END AS BIGINT) AS n_frames,
              CAST(NULL AS INTEGER) AS sample_rate,
              CAST(NULL AS INTEGER) AS channels,
              CAST(NULL AS BIGINT) AS n_samples,
              CAST(NULL AS INTEGER) AS orientation,
              CAST(NULL AS BIGINT) AS duration_ms
            FROM d ORDER BY doc_id"""))

  /** Audio-only ISO-BMFF (M4A) through the metadata pass ([[graft
    * .multimodal.Multimodal.mediaMeta]] — r17): a `soun`-track mp4
    * must report kind `audio` with the AudioSampleEntry's channel
    * count and 16.16 sample rate plus the mvhd duration — NOT a
    * dimension-less video. The oracle replays every field.
    */
  private val qMediaMetaM4a = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 200)
        .map { id =>
          val rate = (id % 3) match {
            case 0 => 44100; case 1 => 48000; case _ => 22050
          }
          (id, graft.multimodal.Multimodal.makeM4aHeader(
            rate, 1 + (id % 2).toInt, 30000 + (id % 11).toInt))
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.mediaMeta(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 200)
            SELECT doc_id, 'audio' AS kind, 'mp4' AS format,
              CAST(NULL AS INTEGER) AS width,
              CAST(NULL AS INTEGER) AS height,
              CAST(NULL AS BIGINT) AS n_frames,
              CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                   ELSE 22050 END AS INTEGER) AS sample_rate,
              CAST(1 + doc_id % 2 AS INTEGER) AS channels,
              CAST(NULL AS BIGINT) AS n_samples,
              CAST(NULL AS INTEGER) AS orientation,
              CAST(30000 + doc_id % 11 AS BIGINT) AS duration_ms
            FROM d ORDER BY doc_id"""))

  /** JPEG-in-TIFF through the perceptual-hash gate (compression 7 —
    * r17): each strip of the TIFF is a COMPLETE grayscale DC-only JPEG
    * ([[graft.multimodal.Multimodal.makeTiffJpeg]], strip seed
    * id + s·23) decoded by the SAME entropy path as q_image_ahash_jpeg
    * and stitched by the SAME strip walk as q_image_ahash_tiff — so
    * the oracle is pure block law: aHash cell (i, j) of the 64×64
    * canvas IS strip i/2's JPEG block (i mod 2, j), and endianness /
    * strip geometry / JPEG coefficients are all absent from the SQL.
    * r17 session 2 widened the variants WITHOUT touching the oracle:
    * shared JPEGTables (abbreviated strips + the type-UNDEFINED tables
    * tag, spliced back by the decoder) and color YCbCr strips with
    * FLAT chroma (Cb = Cr = 128, so decoded RGB = (Y, Y, Y) and the
    * scale-free hash law is the gray one verbatim) — four storage
    * layouts, one SQL, which IS the proof the tables/photometric axes
    * never reach the pixels.
    */
  private val qImageAHashTiffJ = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 150)
        .map { id =>
          val M = graft.multimodal.Multimodal
          val bytes = (id % 4) match {
            case 0 => M.makeTiffJpeg(64, 64, 16, id)
            case 1 => M.makeTiffJpeg(64, 64, 16, id, bigEndian = true)
            case 2 => M.makeTiffJpeg(64, 64, 16, id, sharedTables = true)
            case _ => M.makeTiffJpeg(64, 64, 16, id, color = true,
              sharedTables = true)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageAHashes(s, bins).orderBy("doc_id")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 150),
            blk AS (SELECT doc_id, br.bi AS bi, bc.bj AS bj,
                           ((doc_id + (br.bi // 2) * 23 + (br.bi % 2) * 7
                             + bc.bj * 31) % 200) + 28 AS v
                    FROM ids
                    JOIN generate_series(0, 7) br(bi) ON TRUE
                    JOIN generate_series(0, 7) bc(bj) ON TRUE),
            tot AS (SELECT doc_id, SUM(v) AS total FROM blk GROUP BY 1),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.v * 64 >= t.total THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY 1)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
            FROM hs ORDER BY doc_id"""))

  /** TIFF through the perceptual-hash gate ([[graft.multimodal
    * .Multimodal.tiffGrayGrid]] via `imageAHashes` — VERDICT r16 #3):
    * baseline uncompressed TIFF across the container's degrees of
    * freedom — grayscale vs RGB, II vs MM byte order, single- vs
    * multi-strip layout (doc_id mod 4 picks the variant) — all decoding
    * to the SAME closed-form display pixels a tag-directory walk away.
    * The oracle replays every hash bit from the fixture formula: byte
    * (r, k) = (id + r·31 + k·7) mod 256 top-down, gray = r+g+b for RGB
    * and 3× the sample for grayscale, then the exact integer aHash law
    * (q_image_ahash's CTE without the BMP bottom-up flip). Endianness
    * and strip geometry must NOT appear in the oracle — that absence IS
    * the storage-invariance proof.
    */
  private val qImageAHashTiff = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val bytes = (id % 4) match {
            case 0 => graft.multimodal.Multimodal.makeTiff(16, 16, id, rgb = false)
            case 1 => graft.multimodal.Multimodal.makeTiff(16, 16, id)
            case 2 => graft.multimodal.Multimodal.makeTiff(16, 16, id,
              bigEndian = true, rowsPerStrip = 5)
            case _ => graft.multimodal.Multimodal.makeTiff(16, 16, id, rgb = false,
              bigEndian = true, rowsPerStrip = 3)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageAHashes(s, bins).orderBy("doc_id")
    },
    Some("""WITH px AS (
              SELECT d.doc_id, r.r AS r, x.x AS x,
                     CASE WHEN d.doc_id % 4 IN (0, 3)
                          THEN 3 * ((d.doc_id + r.r * 31 + x.x * 7) % 256)
                          ELSE (d.doc_id + r.r * 31 + (3*x.x + 0) * 7) % 256
                             + (d.doc_id + r.r * 31 + (3*x.x + 1) * 7) % 256
                             + (d.doc_id + r.r * 31 + (3*x.x + 2) * 7) % 256
                     END AS gray
              FROM documents d
              JOIN generate_series(0, 15) r(r) ON TRUE
              JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
            blk AS (SELECT doc_id, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
            FROM hs ORDER BY doc_id"""))

  /** COMPRESSED TIFF through the same gate ([[graft.multimodal
    * .Multimodal.tiffLzwDecode]]/[[graft.multimodal.Multimodal
    * .zlibDecode]]/[[graft.multimodal.Multimodal.packBitsDecode]] —
    * r17): the three TIFF codecs that are ALGORITHMS rather than
    * normative constant tables (LZW in its MSB-first early-change
    * variant, Deflate through the JDK inflater the PNG path already
    * runs, PackBits RLE), each crossed with the horizontal-differencing
    * predictor and strip splits (doc_id mod 6 picks the variant). The
    * oracle is qImageAHashTiff's closed form UNCHANGED — compression,
    * predictor and strip geometry are all absent from the SQL, which IS
    * the storage-invariance proof: six different byte streams, one
    * pixel law.
    */
  private val qImageAHashTiffC = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val M = graft.multimodal.Multimodal
          val bytes = (id % 6) match {
            case 0 => M.makeTiff(16, 16, id, rgb = false, compression = 5)
            case 1 => M.makeTiff(16, 16, id, compression = 5, predictor = 2)
            case 2 => M.makeTiff(16, 16, id, compression = 8)
            case 3 => M.makeTiff(16, 16, id, rgb = false, compression = 8,
              predictor = 2, rowsPerStrip = 5)
            case 4 => M.makeTiff(16, 16, id, rgb = false, compression = 32773,
              bigEndian = true)
            case _ => M.makeTiff(16, 16, id, compression = 32773,
              rowsPerStrip = 3)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageAHashes(s, bins).orderBy("doc_id")
    },
    Some("""WITH px AS (
              SELECT d.doc_id, r.r AS r, x.x AS x,
                     CASE WHEN d.doc_id % 6 IN (0, 3, 4)
                          THEN 3 * ((d.doc_id + r.r * 31 + x.x * 7) % 256)
                          ELSE (d.doc_id + r.r * 31 + (3*x.x + 0) * 7) % 256
                             + (d.doc_id + r.r * 31 + (3*x.x + 1) * 7) % 256
                             + (d.doc_id + r.r * 31 + (3*x.x + 2) * 7) % 256
                     END AS gray
              FROM documents d
              JOIN generate_series(0, 15) r(r) ON TRUE
              JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
            blk AS (SELECT doc_id, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
            FROM hs ORDER BY doc_id"""))

  /** TIFF LAYOUT axes through the same gate (r17 session 2 — the three
    * storage dimensions the strip/codec rows don't touch): 16-bit
    * samples (high byte = the closed form, low byte = noise the decoder
    * must discard; predictor differencing on 16-bit VALUES in file byte
    * order), tiled files (tags 322-325, zero-padded edge tiles clipped
    * on copy) and PlanarConfiguration 2 (plane-major segment runs,
    * predictor lag 1 sample inside a plane) — crossed with byte order,
    * codecs and the predictor (doc_id mod 6 picks the variant). The
    * oracle is the SAME closed form at 24×24: bit depth, tiling and
    * planar order are all absent from the SQL, which IS the
    * storage-invariance proof — six byte layouts, one pixel law.
    */
  private val qImageAHashTiffT = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val M = graft.multimodal.Multimodal
          val bytes = (id % 6) match {
            case 0 => M.makeTiff(24, 24, id, rgb = false, bits = 16)
            case 1 => M.makeTiff(24, 24, id, bits = 16, bigEndian = true,
              compression = 8, predictor = 2, rowsPerStrip = 7)
            case 2 => M.makeTiff(24, 24, id, tileSize = 16)
            case 3 => M.makeTiff(24, 24, id, rgb = false, tileSize = 16,
              bigEndian = true, compression = 5)
            case 4 => M.makeTiff(24, 24, id, planar = true, rowsPerStrip = 5,
              compression = 32773)
            case _ => M.makeTiff(24, 24, id, bits = 16, planar = true,
              tileSize = 16, compression = 5, predictor = 2)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageAHashes(s, bins).orderBy("doc_id")
    },
    Some("""WITH px AS (
              SELECT d.doc_id, r.r AS r, x.x AS x,
                     CASE WHEN d.doc_id % 6 IN (0, 3)
                          THEN 3 * ((d.doc_id + r.r * 31 + x.x * 7) % 256)
                          ELSE (d.doc_id + r.r * 31 + (3*x.x + 0) * 7) % 256
                             + (d.doc_id + r.r * 31 + (3*x.x + 1) * 7) % 256
                             + (d.doc_id + r.r * 31 + (3*x.x + 2) * 7) % 256
                     END AS gray
              FROM documents d
              JOIN generate_series(0, 23) r(r) ON TRUE
              JOIN generate_series(0, 23) x(x) ON TRUE),
            tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
            blk AS (SELECT doc_id, r // 3 AS bi, x // 3 AS bj, SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.bsum * 64 >= t.total THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
            FROM hs ORDER BY doc_id"""))

  /** ICO (favicon container) through the perceptual-hash gate ([[graft
    * .multimodal.Multimodal.icoDecode]] — r17 session 2): the decode
    * picks the LARGEST member and routes it to machinery the engine
    * already owns — 24/32-bpp and 8-bpp-palettized BMP DIBs (doubled
    * height, bottom-up rows, AND mask) or complete PNG streams.
    * Variants (doc_id mod 4): 24-bpp with a leading SMALLER member
    * (largest-selection is part of the law), 32-bpp (alpha noise
    * ignored), 8-bpp palette (nested index→quad law), PNG member
    * (makePng's law, top-down). The oracle replays each law; the
    * container directory, member geometry and alpha bytes are absent
    * from the SQL.
    */
  private val qImageAHashIco = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val M = graft.multimodal.Multimodal
          val bytes = (id % 4) match {
            case 0 => M.makeIco(16, 16, id, withSmaller = true)
            case 1 => M.makeIco(16, 16, id, bpp = 32)
            case 2 => M.makeIco(16, 16, id, bpp = 8)
            case _ => M.makeIco(16, 16, id, png = true)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageAHashes(s, bins).orderBy("doc_id")
    },
    Some("""WITH px AS (
              SELECT d.doc_id, r.r AS r, x.x AS x,
                     CASE d.doc_id % 4
                       WHEN 2 THEN
                         ((d.doc_id + ((d.doc_id + (15 - r.r) * 31 + x.x * 7) % 256) * 11 + 0) % 256)
                       + ((d.doc_id + ((d.doc_id + (15 - r.r) * 31 + x.x * 7) % 256) * 11 + 97) % 256)
                       + ((d.doc_id + ((d.doc_id + (15 - r.r) * 31 + x.x * 7) % 256) * 11 + 194) % 256)
                       WHEN 3 THEN (d.doc_id + r.r * 31 + (3*x.x + 0) * 7) % 256
                                 + (d.doc_id + r.r * 31 + (3*x.x + 1) * 7) % 256
                                 + (d.doc_id + r.r * 31 + (3*x.x + 2) * 7) % 256
                       ELSE (d.doc_id + (15 - r.r) * 31 + (3*x.x + 0) * 7) % 256
                          + (d.doc_id + (15 - r.r) * 31 + (3*x.x + 1) * 7) % 256
                          + (d.doc_id + (15 - r.r) * 31 + (3*x.x + 2) * 7) % 256
                     END AS gray
              FROM documents d
              JOIN generate_series(0, 15) r(r) ON TRUE
              JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
            blk AS (SELECT doc_id, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
            FROM hs ORDER BY doc_id"""))

  /** The widened BMP envelope through the perceptual-hash gate
    * ([[graft.multimodal.Multimodal.bmpBgrPixels]] — r17 session 2):
    * 32-bpp BGRX (alpha noise ignored), 8-bpp palettized, the SAME
    * 8-bpp image RLE8-compressed by a real encoder (runs, padded
    * absolute chunks, EOL/EOB escapes), and a top-down negative-height
    * 24-bpp file (doc_id mod 4). The oracle replays each pixel law —
    * bit depth, palette storage, RLE framing and row order are what
    * vary; classes 1 and 2 share one law, which IS the
    * storage-invariance proof.
    */
  private val qImageAHashBmpX = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val M = graft.multimodal.Multimodal
          val bytes = (id % 4) match {
            case 0 => M.makeBmpX(16, 16, id, bpp = 32)
            case 1 => M.makeBmpX(16, 16, id, bpp = 8)
            case 2 => M.makeBmpX(16, 16, id, bpp = 8, rle = true)
            case _ => M.makeBmpX(16, 16, id, topDown = true)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageAHashes(s, bins).orderBy("doc_id")
    },
    Some("""WITH px AS (
              SELECT d.doc_id, r.r AS r, x.x AS x,
                     CASE
                       WHEN d.doc_id % 4 IN (1, 2) THEN
                         ((d.doc_id + ((d.doc_id + (15 - r.r) * 31 + x.x * 7) % 256) * 11 + 0) % 256)
                       + ((d.doc_id + ((d.doc_id + (15 - r.r) * 31 + x.x * 7) % 256) * 11 + 97) % 256)
                       + ((d.doc_id + ((d.doc_id + (15 - r.r) * 31 + x.x * 7) % 256) * 11 + 194) % 256)
                       WHEN d.doc_id % 4 = 3 THEN
                            (d.doc_id + r.r * 31 + (3*x.x + 0) * 7) % 256
                          + (d.doc_id + r.r * 31 + (3*x.x + 1) * 7) % 256
                          + (d.doc_id + r.r * 31 + (3*x.x + 2) * 7) % 256
                       ELSE (d.doc_id + (15 - r.r) * 31 + (3*x.x + 0) * 7) % 256
                          + (d.doc_id + (15 - r.r) * 31 + (3*x.x + 1) * 7) % 256
                          + (d.doc_id + (15 - r.r) * 31 + (3*x.x + 2) * 7) % 256
                     END AS gray
              FROM documents d
              JOIN generate_series(0, 15) r(r) ON TRUE
              JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
            blk AS (SELECT doc_id, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
            FROM hs ORDER BY doc_id"""))

  /** netpbm through the perceptual-hash gate ([[graft.multimodal
    * .Multimodal.pnmDecode]] — r17 session 2): all four decodable
    * forms — P6/P3 RGB and P5/P2 grayscale, binary and ASCII-decimal
    * twins (doc_id mod 4) — carrying the house pixel law top-down with
    * a planted #-comment in every header. The oracle is the closed
    * form with the FORM absent from the SQL: raw bytes and decimal
    * tokens decode to the same pixels, which IS the proof.
    */
  private val qImageAHashPnm = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val M = graft.multimodal.Multimodal
          val bytes = (id % 4) match {
            case 0 => M.makePnm(16, 16, id)
            case 1 => M.makePnm(16, 16, id, asciiForm = true)
            case 2 => M.makePnm(16, 16, id, rgb = false)
            case _ => M.makePnm(16, 16, id, rgb = false, asciiForm = true)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageAHashes(s, bins).orderBy("doc_id")
    },
    Some("""WITH px AS (
              SELECT d.doc_id, r.r AS r, x.x AS x,
                     CASE WHEN d.doc_id % 4 IN (2, 3)
                          THEN 3 * ((d.doc_id + r.r * 31 + x.x * 7) % 256)
                          ELSE (d.doc_id + r.r * 31 + (3*x.x + 0) * 7) % 256
                             + (d.doc_id + r.r * 31 + (3*x.x + 1) * 7) % 256
                             + (d.doc_id + r.r * 31 + (3*x.x + 2) * 7) % 256
                     END AS gray
              FROM documents d
              JOIN generate_series(0, 15) r(r) ON TRUE
              JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
            blk AS (SELECT doc_id, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
            FROM hs ORDER BY doc_id"""))

  /** QOI through the perceptual-hash gate ([[graft.multimodal
    * .Multimodal.qoiDecode]] — r17 session 2): fixtures written by the
    * REAL reference-algorithm encoder (run/index/diff/luma/literal
    * precedence), decoded through the full op stream back to the house
    * pixel law — so the oracle is the same top-down closed form with
    * the entire codec absent from the SQL. doc_id mod 3 varies the
    * geometry; the 512-wide class wraps the 256-value law cycle so
    * INDEX back-references occur in-fixture.
    */
  private val qImageAHashQoi = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 300)
        .map { id =>
          val M = graft.multimodal.Multimodal
          val bytes = (id % 3) match {
            case 0 => M.makeQoi(16, 16, id)
            case 1 => M.makeQoi(24, 8, id)
            case _ => M.makeQoi(512, 8, id)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageAHashes(s, bins).orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id,
                       CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 24 ELSE 512 END AS w,
                       CASE doc_id % 3 WHEN 0 THEN 16 ELSE 8 END AS h
                FROM documents WHERE doc_id < 300),
            px AS (
              SELECT d.doc_id, d.w, d.h, r.r AS r, x.x AS x,
                     (d.doc_id + r.r * 31 + (3*x.x + 0) * 7) % 256
                   + (d.doc_id + r.r * 31 + (3*x.x + 1) * 7) % 256
                   + (d.doc_id + r.r * 31 + (3*x.x + 2) * 7) % 256 AS gray
              FROM d
              JOIN generate_series(0, 15) r(r) ON r.r < d.h
              JOIN generate_series(0, 511) x(x) ON x.x < d.w),
            tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
            blk AS (SELECT doc_id, (r * 8) // h AS bi, (x * 8) // w AS bj,
                           SUM(gray) AS bsum, COUNT(*) AS nb
                    FROM px GROUP BY 1, 2, 3),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.bsum * (SELECT w * h FROM d d2
                                                WHERE d2.doc_id = b.doc_id)
                                 >= t.total * b.nb THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
            FROM hs ORDER BY doc_id"""))

  /** The MEASURED image-decode boundary ([[graft.multimodal.Multimodal
    * .imageCoverage]] — VERDICT r16 #2, q_audio_coverage's image twin):
    * a mixed corpus across every sniffable container class —
    * BMP/PNG/GIF/JPEG/TIFF (decoded + hashed, TIFF in both gray and
    * big-endian multi-strip RGB shapes) and WebP/AVIF/unknown payloads
    * (valid magics, no decode path) — folded to per-format
    * (n_docs, n_hashed). The image envelope becomes a number per
    * corpus, not a COVERAGE.md footnote; the oracle replays the class
    * arithmetic.
    */
  private val qImageCoverage = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 450)
        .map { id =>
          val bytes = (id % 13) match {
            case 0 => graft.multimodal.Multimodal.makeBmp(16, 16, id)
            case 1 => graft.multimodal.Multimodal.makePng(16, 16, id)
            case 2 => graft.multimodal.Multimodal.makeGif(16, 16, id)
            case 3 => graft.multimodal.Multimodal.makeJpeg(16, 16, id, gray = true)
            case 4 => graft.multimodal.Multimodal.makeTiff(16, 16, id, rgb = false)
            case 5 => graft.multimodal.Multimodal.makeTiff(16, 16, id,
              bigEndian = true, rowsPerStrip = 5)
            case 6 => "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
              "WEBP".getBytes("US-ASCII") ++ Array.tabulate(16)(i => ((id + i) % 256).toByte)
            case 7 => Array[Byte](0, 0, 0, 24) ++ "ftypavif".getBytes("US-ASCII") ++
              Array.tabulate(16)(i => ((id + i) % 256).toByte)
            case 8 => graft.multimodal.Multimodal.makeIco(16, 16, id) // r17 s2
            case 9 => Array.fill(24)(1.toByte)
            // r17 s2: netpbm + QOI decoded; a P4 bitmap sniffs pnm but
            // stays un-hashed — the in-family boundary as a number
            case 10 => graft.multimodal.Multimodal.makePnm(16, 16, id)
            case 11 => graft.multimodal.Multimodal.makeQoi(16, 16, id)
            case _ => "P4\n4 4\n".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageCoverage(s, bins)
        .orderBy("format")
    },
    Some("""WITH cls AS (SELECT doc_id, doc_id % 13 AS k FROM documents WHERE doc_id < 450),
            fm AS (SELECT k,
                          CASE k WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                                 WHEN 2 THEN 'gif' WHEN 3 THEN 'jpeg'
                                 WHEN 4 THEN 'tiff' WHEN 5 THEN 'tiff'
                                 WHEN 6 THEN 'webp' WHEN 7 THEN 'avif'
                                 WHEN 8 THEN 'ico'
                                 WHEN 10 THEN 'pnm' WHEN 12 THEN 'pnm'
                                 WHEN 11 THEN 'qoi'
                                 ELSE 'unknown' END AS format,
                          CASE WHEN k <= 5 OR k IN (8, 10, 11) THEN 1 ELSE 0 END AS dec
                   FROM (SELECT DISTINCT k FROM cls)),
            agg AS (SELECT fm.format,
                           CAST(COUNT(*) AS BIGINT) AS n_docs,
                           CAST(SUM(fm.dec) AS BIGINT) AS n_hashed
                    FROM cls JOIN fm ON fm.k = cls.k
                    GROUP BY fm.format)
            SELECT format, n_docs, n_hashed FROM agg ORDER BY format"""))

  /** DCT perceptual hash (pHash) through the driver gate
    * ([[graft.multimodal.Multimodal.imagePHashes]] / [[graft.multimodal
    * .Multimodal.pHash64]]): 64×64 grayscale DC-only JPEGs through the
    * real entropy path. The whole spectral pipeline is integer — 32×32
    * area cells (here exact: each 2×2 cell sits inside one flat 8×8
    * block, so cell value = `((id + (gx div 4)·31 + (gy div 4)·7) mod
    * 200) + 28`), 2-D DCT through the 1024 embedded quantized basis
    * constants, 63 low-frequency coefficients, strict-> median
    * threshold — so the oracle replays every bit from the closed form
    * and the hash law itself (not just the decode) is externally
    * checked.
    */
  private val qImagePHash = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 150)
        .map(id => (id, graft.multimodal.Multimodal.makeJpeg(64, 64, id, gray = true)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imagePHashes(s, bins).orderBy("doc_id")
    }, {
      val basis = graft.multimodal.Multimodal.PHashBasis.mkString(", ")
      Some(s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 150),
              cells AS (SELECT i.doc_id, gx.x AS gx, gy.x AS gy,
                               CAST(((i.doc_id + (gx.x // 4) * 31 + (gy.x // 4) * 7) % 200) + 28 AS BIGINT) AS cv
                        FROM ids i
                        JOIN generate_series(0, 31) gx(x) ON TRUE
                        JOIN generate_series(0, 31) gy(x) ON TRUE),
              basis AS (SELECT t.i // 32 AS u, t.i % 32 AS x,
                               CAST(([$basis])[t.i + 1] AS BIGINT) AS b
                        FROM generate_series(0, 1023) t(i)),
              co AS (SELECT c.doc_id, bu.u AS u, bv.u AS v,
                            SUM(c.cv * bu.b * bv.b) AS coef
                     FROM cells c
                     JOIN basis bu ON bu.x = c.gx AND bu.u < 8
                     JOIN basis bv ON bv.x = c.gy AND bv.u < 8
                     WHERE NOT (bu.u = 0 AND bv.u = 0)
                     GROUP BY 1, 2, 3),
              med AS (SELECT doc_id, coef AS m
                      FROM (SELECT doc_id, coef,
                                   row_number() OVER (PARTITION BY doc_id
                                                      ORDER BY coef) AS rn
                            FROM co)
                      WHERE rn = 32),
              bits AS (SELECT co.doc_id,
                              CAST(SUM(CASE WHEN co.coef > med.m
                                  THEN CAST(1 AS BIGINT) << (v * 8 + u - 1)
                                  ELSE 0 END) AS BIGINT) AS phash
                       FROM co JOIN med USING (doc_id)
                       GROUP BY co.doc_id)
            SELECT doc_id, phash FROM bits ORDER BY doc_id""")
    })

  /** Decoded-VIDEO frame hashing ([[graft.multimodal.Multimodal
    * .videoFrameHashes]] over [[graft.multimodal.Multimodal
    * .makeGifAnimated]] fixtures): animated GIFs — a real container
    * with per-frame LZW streams, GCE state and canvas compositing —
    * decoded frame by frame, one aHash per COMPOSITED frame. Clip
    * doc_id < 200 carries 2 + id mod 3 full-canvas frames of
    * closed-form pixels, so the oracle reconstructs EVERY hash bit of
    * EVERY frame at pixel granularity (the q_image_ahash replay with a
    * frame dimension).
    */
  private val qVideoHashes = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 200)
        .map(id => (id, graft.multimodal.Multimodal.makeGifAnimated(
          16, 16, id, 2 + (id % 3).toInt)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoFrameHashes(s, bins)
        .orderBy("doc_id", "frame_idx")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
            fr AS (SELECT doc_id, f.f AS f FROM ids
                   JOIN generate_series(0, 3) f(f) ON f.f < 2 + doc_id % 3),
            g AS (SELECT doc_id, f, r.r AS r, x.x AS x,
                         (doc_id + 3*((doc_id + f*17 + r.r*31 + x.x*7) % 256)) % 256
                       + (doc_id + 5*((doc_id + f*17 + r.r*31 + x.x*7) % 256)) % 256
                       + (doc_id + 7*((doc_id + f*17 + r.r*31 + x.x*7) % 256)) % 256 AS gray
                  FROM fr
                  JOIN generate_series(0, 15) r(r) ON TRUE
                  JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, f, SUM(gray) AS total FROM g GROUP BY 1, 2),
            blk AS (SELECT doc_id, f, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM g GROUP BY 1, 2, 3, 4),
            bits AS (SELECT b.doc_id, b.f, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id, f)),
            hs AS (SELECT doc_id, f,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY 1, 2)
            SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS fhash
            FROM hs ORDER BY doc_id, frame_idx"""))

  /** Clip-level near-dup ([[graft.multimodal.Multimodal
    * .videoNearDups]]): doc_id < 100 clips built with seed = id mod 50,
    * so clip i and i+50 are exact duplicates (3 frames each at Hamming
    * 0); the blocked frame-level Hamming join folds to (id_a, id_b,
    * n_pairs ≥ 2). The oracle replays frame hashes from the closed form
    * and the FULL cross-pair Hamming rule (bit_count over the 64-bit
    * xor) — accidental near-matches between different seeds count on
    * both sides, so the check is the rule, not just the plant.
    */
  private val qVideoNearDup = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 100)
        .map(id => (id, graft.multimodal.Multimodal.makeGifAnimated(
          16, 16, id % 50, 3)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoNearDups(
          graft.multimodal.Multimodal.videoFrameHashes(s, bins),
          maxHamming = 2, minPairs = 2)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
            fr AS (SELECT doc_id, doc_id % 50 AS seed, f.f AS f FROM ids
                   JOIN generate_series(0, 2) f(f) ON TRUE),
            g AS (SELECT doc_id, f, r.r AS r, x.x AS x,
                         (seed + 3*((seed + f*17 + r.r*31 + x.x*7) % 256)) % 256
                       + (seed + 5*((seed + f*17 + r.r*31 + x.x*7) % 256)) % 256
                       + (seed + 7*((seed + f*17 + r.r*31 + x.x*7) % 256)) % 256 AS gray
                  FROM fr
                  JOIN generate_series(0, 15) r(r) ON TRUE
                  JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, f, SUM(gray) AS total FROM g GROUP BY 1, 2),
            blk AS (SELECT doc_id, f, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM g GROUP BY 1, 2, 3, 4),
            bits AS (SELECT b.doc_id, b.f, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id, f)),
            hs AS (SELECT doc_id, f,
                          CAST(SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS UBIGINT) AS u
                   FROM bits GROUP BY 1, 2),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM hs a JOIN hs b
                    ON a.doc_id < b.doc_id
                   AND bit_count(xor(a.u, b.u)) <= 2),
            agg AS (SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
                    FROM p GROUP BY 1, 2)
            SELECT id_a, id_b, n_pairs FROM agg
            WHERE n_pairs >= 2 ORDER BY id_a, id_b"""))

  /** SPECTRAL per-frame video hashing ([[graft.multimodal.Multimodal
    * .videoFramePHashes]]): 32×32 animated GIFs — the minimum canvas
    * the DCT key is defined on (16×16 gate fixtures hash via aHash
    * only) — decoded frame by frame, one [[graft.multimodal.Multimodal
    * .pHash64]] per composited frame. At 32×32 each DCT cell is exactly
    * one pixel, so the oracle replays the WHOLE law per frame: pixel
    * closed form → quantized DCT basis product → 32nd-smallest-of-63
    * median → strict-> threshold bits.
    */
  private val qVideoPHash = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 60)
        .map(id => (id, graft.multimodal.Multimodal.makeGifAnimated(
          32, 32, id, 2 + (id % 3).toInt)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoFramePHashes(s, bins)
        .orderBy("doc_id", "frame_idx")
    }, {
      val basis = graft.multimodal.Multimodal.PHashBasis.mkString(", ")
      Some(s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
              fr AS (SELECT doc_id, f.f AS f FROM ids
                     JOIN generate_series(0, 3) f(f) ON f.f < 2 + doc_id % 3),
              cells AS (SELECT doc_id, f, r.r AS gy, x.x AS gx,
                          CAST((doc_id + 3*((doc_id + f*17 + r.r*31 + x.x*7) % 256)) % 256
                             + (doc_id + 5*((doc_id + f*17 + r.r*31 + x.x*7) % 256)) % 256
                             + (doc_id + 7*((doc_id + f*17 + r.r*31 + x.x*7) % 256)) % 256
                            AS BIGINT) AS cv
                        FROM fr
                        JOIN generate_series(0, 31) r(r) ON TRUE
                        JOIN generate_series(0, 31) x(x) ON TRUE),
              basis AS (SELECT t.i // 32 AS u, t.i % 32 AS x,
                               CAST(([$basis])[t.i + 1] AS BIGINT) AS b
                        FROM generate_series(0, 1023) t(i)),
              co AS (SELECT c.doc_id, c.f, bu.u AS u, bv.u AS v,
                            SUM(c.cv * bu.b * bv.b) AS coef
                     FROM cells c
                     JOIN basis bu ON bu.x = c.gx AND bu.u < 8
                     JOIN basis bv ON bv.x = c.gy AND bv.u < 8
                     WHERE NOT (bu.u = 0 AND bv.u = 0)
                     GROUP BY 1, 2, 3, 4),
              med AS (SELECT doc_id, f, coef AS m
                      FROM (SELECT doc_id, f, coef,
                                   row_number() OVER (PARTITION BY doc_id, f
                                                      ORDER BY coef) AS rn
                            FROM co)
                      WHERE rn = 32),
              bits AS (SELECT co.doc_id, co.f,
                              CAST(SUM(CASE WHEN co.coef > med.m
                                  THEN CAST(1 AS BIGINT) << (v * 8 + u - 1)
                                  ELSE 0 END) AS BIGINT) AS fhash
                       FROM co JOIN med USING (doc_id, f)
                       GROUP BY co.doc_id, co.f)
            SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, fhash
            FROM bits ORDER BY doc_id, frame_idx""")
    })

  /** Clip-level near-dup on the SPECTRAL key ([[graft.multimodal
    * .Multimodal.videoNearDups]] over [[graft.multimodal.Multimodal
    * .videoFramePHashes]] — the blocked Hamming join is hash-agnostic):
    * 32×32 clips with seed = id mod 40, so clip i and i+40 are exact
    * duplicates (2 frames each at Hamming 0). This is the re-render
    * duplicate class's clip detector: pHash holds under smooth global
    * change where aHash reorders (the measured division of labor in
    * pHash64's doc). The oracle replays the per-frame pHash law AND the
    * full cross-pair bit_count(xor) ≤ 2 / n_pairs ≥ 2 fold — the rule,
    * not just the plant.
    */
  private val qVideoNearDupPHash = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 80)
        .map(id => (id, graft.multimodal.Multimodal.makeGifAnimated(
          32, 32, id % 40, 2)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoNearDups(
          graft.multimodal.Multimodal.videoFramePHashes(s, bins),
          maxHamming = 2, minPairs = 2)
        .orderBy("id_a", "id_b")
    }, {
      val basis = graft.multimodal.Multimodal.PHashBasis.mkString(", ")
      Some(s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 80),
              fr AS (SELECT doc_id, doc_id % 40 AS seed, f.f AS f FROM ids
                     JOIN generate_series(0, 1) f(f) ON TRUE),
              cells AS (SELECT doc_id, f, r.r AS gy, x.x AS gx,
                          CAST((seed + 3*((seed + f*17 + r.r*31 + x.x*7) % 256)) % 256
                             + (seed + 5*((seed + f*17 + r.r*31 + x.x*7) % 256)) % 256
                             + (seed + 7*((seed + f*17 + r.r*31 + x.x*7) % 256)) % 256
                            AS BIGINT) AS cv
                        FROM fr
                        JOIN generate_series(0, 31) r(r) ON TRUE
                        JOIN generate_series(0, 31) x(x) ON TRUE),
              basis AS (SELECT t.i // 32 AS u, t.i % 32 AS x,
                               CAST(([$basis])[t.i + 1] AS BIGINT) AS b
                        FROM generate_series(0, 1023) t(i)),
              co AS (SELECT c.doc_id, c.f, bu.u AS u, bv.u AS v,
                            SUM(c.cv * bu.b * bv.b) AS coef
                     FROM cells c
                     JOIN basis bu ON bu.x = c.gx AND bu.u < 8
                     JOIN basis bv ON bv.x = c.gy AND bv.u < 8
                     WHERE NOT (bu.u = 0 AND bv.u = 0)
                     GROUP BY 1, 2, 3, 4),
              med AS (SELECT doc_id, f, coef AS m
                      FROM (SELECT doc_id, f, coef,
                                   row_number() OVER (PARTITION BY doc_id, f
                                                      ORDER BY coef) AS rn
                            FROM co)
                      WHERE rn = 32),
              hs AS (SELECT co.doc_id, co.f,
                            CAST(SUM(CASE WHEN co.coef > med.m
                                THEN 1::HUGEINT << (v * 8 + u - 1)
                                ELSE 0::HUGEINT END) AS UBIGINT) AS u
                     FROM co JOIN med USING (doc_id, f)
                     GROUP BY co.doc_id, co.f),
              p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                    FROM hs a JOIN hs b
                      ON a.doc_id < b.doc_id
                     AND bit_count(xor(a.u, b.u)) <= 2),
              agg AS (SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
                      FROM p GROUP BY 1, 2)
            SELECT id_a, id_b, n_pairs FROM agg
            WHERE n_pairs >= 2 ORDER BY id_a, id_b""")
    })

  /** Decoded-VIDEO frame hashing over the MJPEG AVI container
    * ([[graft.multimodal.Multimodal.aviFrameGrids]] via
    * `videoFrameHashes` — VERDICT r16 #1): real RIFF AVIs (avih header,
    * vids/MJPG stream declaration, movi chunk list) whose 00dc chunks
    * each carry a 64×64 grayscale DC-only JPEG with per-frame seed
    * `id + f·17`, decoded through the SAME entropy path as
    * q_image_ahash_jpeg — so the oracle reconstructs every hash bit of
    * every frame at BLOCK granularity (that query's closed form with a
    * frame dimension). Clip doc_id < 150 carries 2 + id mod 3 frames.
    */
  private val qVideoMjpeg = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 150)
        .map(id => (id, graft.multimodal.Multimodal.makeAviMjpeg(
          64, 64, id, 2 + (id % 3).toInt)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoFrameHashes(s, bins)
        .orderBy("doc_id", "frame_idx")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 150),
            fr AS (SELECT doc_id, f.f AS f FROM ids
                   JOIN generate_series(0, 3) f(f) ON f.f < 2 + doc_id % 3),
            blk AS (SELECT doc_id, f, br.bi AS bi, bc.bj AS bj,
                           ((doc_id + f*17 + bc.bj * 31 + br.bi * 7) % 200) + 28 AS v
                    FROM fr
                    JOIN generate_series(0, 7) br(bi) ON TRUE
                    JOIN generate_series(0, 7) bc(bj) ON TRUE),
            tot AS (SELECT doc_id, f, SUM(v) AS total FROM blk GROUP BY 1, 2),
            bits AS (SELECT b.doc_id, b.f, bi, bj,
                            CASE WHEN b.v * 64 >= t.total THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id, f)),
            hs AS (SELECT doc_id, f,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY 1, 2)
            SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS fhash
            FROM hs ORDER BY doc_id, frame_idx"""))

  /** Clip-level near-dup over MJPEG AVI ([[graft.multimodal.Multimodal
    * .videoNearDups]] — the q_video_neardup semantics on the RIFF
    * container): doc_id < 100 clips built with seed = id mod 50, so
    * clip i and i+50 are exact duplicates (3 frames each at Hamming 0).
    * The oracle replays frame hashes from the JPEG block closed form
    * and the FULL cross-pair Hamming rule — accidental near-matches
    * between different seeds count on both sides, so the check is the
    * rule, not just the plant.
    */
  private val qVideoMjpegNearDup = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 100)
        .map(id => (id, graft.multimodal.Multimodal.makeAviMjpeg(
          64, 64, id % 50, 3)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoNearDups(
          graft.multimodal.Multimodal.videoFrameHashes(s, bins),
          maxHamming = 2, minPairs = 2)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
            fr AS (SELECT doc_id, doc_id % 50 AS seed, f.f AS f FROM ids
                   JOIN generate_series(0, 2) f(f) ON TRUE),
            blk AS (SELECT doc_id, f, br.bi AS bi, bc.bj AS bj,
                           ((seed + f*17 + bc.bj * 31 + br.bi * 7) % 200) + 28 AS v
                    FROM fr
                    JOIN generate_series(0, 7) br(bi) ON TRUE
                    JOIN generate_series(0, 7) bc(bj) ON TRUE),
            tot AS (SELECT doc_id, f, SUM(v) AS total FROM blk GROUP BY 1, 2),
            bits AS (SELECT b.doc_id, b.f, bi, bj,
                            CASE WHEN b.v * 64 >= t.total THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id, f)),
            hs AS (SELECT doc_id, f,
                          CAST(SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS UBIGINT) AS u
                   FROM bits GROUP BY 1, 2),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM hs a JOIN hs b
                    ON a.doc_id < b.doc_id
                   AND bit_count(xor(a.u, b.u)) <= 2),
            agg AS (SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
                    FROM p GROUP BY 1, 2)
            SELECT id_a, id_b, n_pairs FROM agg
            WHERE n_pairs >= 2 ORDER BY id_a, id_b"""))

  /** UNCOMPRESSED AVI through the decoded-video gate ([[graft
    * .multimodal.Multimodal.makeAviDib]] fixtures → `dibGrayGrid` —
    * r17): the raw-DIB slot real muxers still emit (vids stream with
    * the `DIB ` handler, strf declaring BI_RGB 24-bpp, 00db chunks of
    * bottom-up 4-byte-aligned BGR rows). Frame f of clip id carries
    * [[graft.multimodal.Multimodal.makeBmp]]'s exact closed-form bytes
    * with seed id + f·17, so the oracle is q_image_ahash's BMP replay
    * (bottom-up flip included) with a frame dimension — no JPEG
    * machinery anywhere, a DIFFERENT codec path through the same
    * container walk as q_video_mjpeg.
    */
  private val qVideoDib = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 150)
        .map(id => (id, graft.multimodal.Multimodal.makeAviDib(
          16, 16, id, 2 + (id % 3).toInt)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoFrameHashes(s, bins)
        .orderBy("doc_id", "frame_idx")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 150),
            fr AS (SELECT doc_id, f.f AS f FROM ids
                   JOIN generate_series(0, 3) f(f) ON f.f < 2 + doc_id % 3),
            px AS (SELECT fr.doc_id, fr.f, r.r AS r, x.x AS x,
                          (fr.doc_id + fr.f*17 + (15 - r.r) * 31 + (3*x.x + 0) * 7) % 256
                        + (fr.doc_id + fr.f*17 + (15 - r.r) * 31 + (3*x.x + 1) * 7) % 256
                        + (fr.doc_id + fr.f*17 + (15 - r.r) * 31 + (3*x.x + 2) * 7) % 256 AS gray
                   FROM fr
                   JOIN generate_series(0, 15) r(r) ON TRUE
                   JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, f, SUM(gray) AS total FROM px GROUP BY 1, 2),
            blk AS (SELECT doc_id, f, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3, 4),
            bits AS (SELECT b.doc_id, b.f, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id, f)),
            hs AS (SELECT doc_id, f,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY 1, 2)
            SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS fhash
            FROM hs ORDER BY doc_id, frame_idx"""))

  /** Decoded-VIDEO frame hashing over the ISO-BMFF container (r17 —
    * [[graft.multimodal.Multimodal.mp4FrameGrids]] via
    * `videoFrameHashes`): real MP4s (ftyp/mdat/moov, the full
    * stsd→stsc→stsz→stco sample-table walk, samples packed two per
    * chunk with a multi-run stsc whenever the frame count is odd)
    * whose `jpeg`-coded samples each carry a 64×64 grayscale DC-only
    * JPEG with per-frame seed `id + f·17` — the SAME frame law as
    * q_video_mjpeg through a structurally different container, so the
    * oracle is that row's closed form verbatim: if the sample-table
    * replay mislays even one byte boundary, a frame decodes wrong (or
    * poisons the clip) and hashes diverge. Clip doc_id < 150 carries
    * 2 + id mod 3 frames.
    */
  private val qVideoMp4 = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 150)
        .map(id => (id, graft.multimodal.Multimodal.makeMp4Mjpeg(
          64, 64, id, 2 + (id % 3).toInt)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoFrameHashes(s, bins)
        .orderBy("doc_id", "frame_idx")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 150),
            fr AS (SELECT doc_id, f.f AS f FROM ids
                   JOIN generate_series(0, 3) f(f) ON f.f < 2 + doc_id % 3),
            blk AS (SELECT doc_id, f, br.bi AS bi, bc.bj AS bj,
                           ((doc_id + f*17 + bc.bj * 31 + br.bi * 7) % 200) + 28 AS v
                    FROM fr
                    JOIN generate_series(0, 7) br(bi) ON TRUE
                    JOIN generate_series(0, 7) bc(bj) ON TRUE),
            tot AS (SELECT doc_id, f, SUM(v) AS total FROM blk GROUP BY 1, 2),
            bits AS (SELECT b.doc_id, b.f, bi, bj,
                            CASE WHEN b.v * 64 >= t.total THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id, f)),
            hs AS (SELECT doc_id, f,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY 1, 2)
            SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS fhash
            FROM hs ORDER BY doc_id, frame_idx"""))

  /** Decoded-VIDEO frame hashing over APNG ([[graft.multimodal
    * .Multimodal.apngFrameGrids]] via `videoFrameHashes` — r17
    * session 2): real animated PNGs (acTL/fcTL/fdAT, the first frame
    * claimed from the IDAT stream, every frame an independent zlib
    * stream with the filter type cycling through all five per row)
    * decoded through the SAME inflate + filter-inversion machinery as
    * the still path. Frame f's pixel bytes are [[graft.multimodal
    * .Multimodal.makePng]]'s closed form with seed id + f·23, so the
    * oracle replays every hash bit of every frame from the pixel law —
    * chunk framing, zlib and filters all absent from the SQL. Clip
    * doc_id < 150 carries 2 + id mod 3 frames.
    */
  private val qVideoApng = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 150)
        .map(id => (id, graft.multimodal.Multimodal.makeApng(
          16, 16, id, 2 + (id % 3).toInt)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoFrameHashes(s, bins)
        .orderBy("doc_id", "frame_idx")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 150),
            fr AS (SELECT doc_id, f.f AS f FROM ids
                   JOIN generate_series(0, 3) f(f) ON f.f < 2 + doc_id % 3),
            px AS (SELECT doc_id, f, r.r AS r, x.x AS x,
                          (doc_id + f*23 + r.r * 31 + (3*x.x + 0) * 7) % 256
                        + (doc_id + f*23 + r.r * 31 + (3*x.x + 1) * 7) % 256
                        + (doc_id + f*23 + r.r * 31 + (3*x.x + 2) * 7) % 256 AS gray
                   FROM fr
                   JOIN generate_series(0, 15) r(r) ON TRUE
                   JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, f, SUM(gray) AS total FROM px GROUP BY 1, 2),
            blk AS (SELECT doc_id, f, r // 2 AS bi, x // 2 AS bj,
                           SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3, 4),
            bits AS (SELECT b.doc_id, b.f, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id, f)),
            hs AS (SELECT doc_id, f,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY 1, 2)
            SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS fhash
            FROM hs ORDER BY doc_id, frame_idx"""))

  /** APNG through the metadata pass (r17 session 2): frame count from
    * acTL, duration from the fcTL delay walk (frame f delays
    * (f mod 3 + 1)/100 s in the fixture, so the sum is closed-form),
    * the GIF 2+-frames→video kind rule, single-frame animations
    * staying images. Header-only — no inflate, no filter inversion.
    */
  private val qMediaMetaApng = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 240)
        .map { id =>
          val bytes = (id % 3) match {
            case 0 => graft.multimodal.Multimodal.makeApng(24, 12, id, 3)
            case 1 => graft.multimodal.Multimodal.makeApng(16, 16, id, 1)
            case _ => graft.multimodal.Multimodal.makeApng(
              32, 20, id, 2 + (id % 4).toInt)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.mediaMeta(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 3 AS k, 2 + doc_id % 4 AS n
                       FROM documents WHERE doc_id < 240)
            SELECT doc_id,
              CASE WHEN k = 1 THEN 'image' ELSE 'video' END AS kind,
              'apng' AS format,
              CAST(CASE k WHEN 0 THEN 24 WHEN 1 THEN 16 ELSE 32 END AS INTEGER) AS width,
              CAST(CASE k WHEN 0 THEN 12 WHEN 1 THEN 16 ELSE 20 END AS INTEGER) AS height,
              CAST(CASE k WHEN 0 THEN 3 WHEN 1 THEN 1 ELSE n END AS BIGINT) AS n_frames,
              CAST(NULL AS INTEGER) AS sample_rate,
              CAST(NULL AS INTEGER) AS channels,
              CAST(NULL AS BIGINT) AS n_samples,
              CAST(NULL AS INTEGER) AS orientation,
              CAST(CASE k WHEN 0 THEN 60 WHEN 1 THEN 10
                   ELSE CASE n WHEN 2 THEN 30 WHEN 3 THEN 60
                               WHEN 4 THEN 70 ELSE 90 END
                   END AS BIGINT) AS duration_ms
            FROM d ORDER BY doc_id"""))

  /** CROSS-CONTAINER clip near-dup (r17): clips 0-49 are MJPEG AVIs,
    * clips 50-99 the SAME content muxed as ISO-BMFF MP4 (seed id mod
    * 50, 3 frames) — a real corpus's "same video, different wrapper"
    * duplicate class. The hash tier must see identical frame grids
    * through both container walks for the planted (i, i+50) pairs to
    * land at Hamming 0; the oracle replays the frame law (container-
    * free by construction) and the FULL cross-pair Hamming rule, so
    * accidental near-matches count too — the check is the rule, not
    * just the plant.
    */
  private val qVideoMixedNearDup = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 100)
        .map { id =>
          val bytes =
            if (id < 50) graft.multimodal.Multimodal.makeAviMjpeg(64, 64, id % 50, 3)
            else graft.multimodal.Multimodal.makeMp4Mjpeg(64, 64, id % 50, 3)
          (id, bytes)
        }
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoNearDups(
          graft.multimodal.Multimodal.videoFrameHashes(s, bins),
          maxHamming = 2, minPairs = 2)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 100),
            fr AS (SELECT doc_id, doc_id % 50 AS seed, f.f AS f FROM ids
                   JOIN generate_series(0, 2) f(f) ON TRUE),
            blk AS (SELECT doc_id, f, br.bi AS bi, bc.bj AS bj,
                           ((seed + f*17 + bc.bj * 31 + br.bi * 7) % 200) + 28 AS v
                    FROM fr
                    JOIN generate_series(0, 7) br(bi) ON TRUE
                    JOIN generate_series(0, 7) bc(bj) ON TRUE),
            tot AS (SELECT doc_id, f, SUM(v) AS total FROM blk GROUP BY 1, 2),
            bits AS (SELECT b.doc_id, b.f, bi, bj,
                            CASE WHEN b.v * 64 >= t.total THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id, f)),
            hs AS (SELECT doc_id, f,
                          CAST(SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS UBIGINT) AS u
                   FROM bits GROUP BY 1, 2),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM hs a JOIN hs b
                    ON a.doc_id < b.doc_id
                   AND bit_count(xor(a.u, b.u)) <= 2),
            agg AS (SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
                    FROM p GROUP BY 1, 2)
            SELECT id_a, id_b, n_pairs FROM agg
            WHERE n_pairs >= 2 ORDER BY id_a, id_b"""))

  /** The MEASURED video-decode boundary ([[graft.multimodal.Multimodal
    * .videoCoverage]] — completes the coverage triple with audio and
    * image): a mixed corpus across the sniffable container classes —
    * animated GIF, MJPEG AVI, and Motion-JPEG MP4/MOV (framed — r17), a
    * RIFF AVI with no decodable video stream and a bare-ftyp MP4 stub
    * (each sniffs its container, frames nothing — the boundary INSIDE a
    * known container, on both container families), and EBML/unknown
    * payloads (valid magics, no decode path) — folded to per-format
    * (n_docs, n_framed).
    */
  private val qVideoCoverage = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 480)
        .map { id =>
          val bytes = (id % 8) match {
            case 0 => graft.multimodal.Multimodal.makeGifAnimated(16, 16, id, 2)
            case 1 => graft.multimodal.Multimodal.makeAviMjpeg(16, 16, id, 2)
            case 2 => "RIFF".getBytes("US-ASCII") ++ Array[Byte](20, 0, 0, 0) ++
              "AVI ".getBytes("US-ASCII") ++ Array.tabulate(16)(i => ((id + i) % 256).toByte)
            case 3 => Array[Byte](0, 0, 0, 24) ++ "ftypmp42".getBytes("US-ASCII") ++
              Array.tabulate(16)(i => ((id + i) % 256).toByte)
            case 4 => Array[Byte](0x1a, 0x45.toByte, 0xdf.toByte, 0xa3.toByte) ++
              Array.tabulate(20)(i => ((id + i) % 256).toByte)
            case 5 => graft.multimodal.Multimodal.makeMp4Mjpeg(16, 16, id, 2)
            case 6 => graft.multimodal.Multimodal.makeMp4Mjpeg(16, 16, id, 2, brand = "qt  ")
            case _ => Array.fill(24)(2.toByte)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.videoCoverage(s, bins)
        .orderBy("format")
    },
    Some("""WITH cls AS (SELECT doc_id, doc_id % 8 AS k FROM documents WHERE doc_id < 480),
            fm AS (SELECT k,
                          CASE k WHEN 0 THEN 'gif' WHEN 1 THEN 'avi'
                                 WHEN 2 THEN 'avi' WHEN 3 THEN 'mp4'
                                 WHEN 4 THEN 'ebml' WHEN 5 THEN 'mp4'
                                 WHEN 6 THEN 'mov' ELSE 'unknown' END AS format,
                          CASE WHEN k <= 1 OR k IN (5, 6) THEN 1 ELSE 0 END AS dec
                   FROM (SELECT DISTINCT k FROM cls)),
            agg AS (SELECT fm.format,
                           CAST(COUNT(*) AS BIGINT) AS n_docs,
                           CAST(SUM(fm.dec) AS BIGINT) AS n_framed
                    FROM cls JOIN fm ON fm.k = cls.k
                    GROUP BY fm.format)
            SELECT format, n_docs, n_framed FROM agg ORDER BY format"""))

  /** HEADER-ONLY media metadata ([[graft.multimodal.Multimodal
    * .mediaMeta]] — r17): the pre-filter pass a training pipeline runs
    * before committing decode work — resolution / frame counts /
    * sample rates from container headers alone, one peek per payload,
    * nothing decoded. Ten fixture classes spanning all three kinds:
    * WAV/AU/AIFF (closed-form rates, channels, sample counts), MP3 and
    * ADTS-AAC (frame-header walks over formats the decode envelope
    * correctly refuses — metadata is still real there), PNG/JPEG dims,
    * animated GIF (kind flips image→video at 2 frames), Motion-JPEG
    * MP4 (sample-table frame count), and junk. The oracle replays
    * every field of every class from the fixture arithmetic — a
    * mis-parsed header anywhere lands a wrong number somewhere.
    */
  private val qMediaMeta = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 500)
        .map { id =>
          val bytes = (id % 10) match {
            case 0 => graft.multimodal.Multimodal.makeWav(
              400 + (id % 5).toInt, 1 + (id % 2).toInt, 8000, id)
            case 1 => graft.multimodal.Multimodal.makeAu(
              300 + (id % 7).toInt, 8000 + (id % 3).toInt * 4000, id, muLaw = id % 2 == 0)
            case 2 => graft.multimodal.Multimodal.makeAiff(
              200 + (id % 5).toInt, 1 + (id % 3).toInt, 11025, id)
            case 3 => graft.multimodal.Multimodal.makeMp3Frames(
              3 + (id % 4).toInt, (id % 3).toInt, 1 + (id % 14).toInt,
              mono = id % 2 == 0, id, id3Size = if (id % 2 == 0) 48 else 0)
            case 4 => graft.multimodal.Multimodal.makeAdtsFrames(
              2 + (id % 3).toInt, 3 + (id % 3).toInt, 1 + (id % 2).toInt, 20, id)
            case 5 => graft.multimodal.Multimodal.makePng(
              4 + (id % 5).toInt, 3 + (id % 4).toInt, id)
            case 6 =>
              val j = graft.multimodal.Multimodal.makeJpeg(
                8 * (1 + (id % 3).toInt), 8 * (1 + (id % 2).toInt), id)
              // every other jpeg carries an APP1 Exif orientation
              // (alternating byte orders) — absent is not "1"
              if (id % 20 == 16)
                graft.multimodal.Multimodal.withExifOrientation(
                  j, 1 + ((id / 20) % 8).toInt, bigEndian = id % 40 == 16)
              else j
            case 7 => graft.multimodal.Multimodal.makeGifAnimated(
              10 + (id % 4).toInt, 7, id, 1 + (id % 3).toInt)
            case 8 => graft.multimodal.Multimodal.makeMp4Mjpeg(
              16, 16, id, 2 + (id % 3).toInt)
            case _ => Array.fill(16)(3.toByte)
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.mediaMeta(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 10 AS k FROM documents WHERE doc_id < 500)
            SELECT doc_id,
              CASE WHEN k <= 4 THEN 'audio'
                   WHEN k IN (5, 6) THEN 'image'
                   WHEN k = 7 THEN CASE WHEN doc_id % 3 >= 1 THEN 'video' ELSE 'image' END
                   WHEN k = 8 THEN 'video' ELSE 'unknown' END AS kind,
              CASE k WHEN 0 THEN 'wav_pcm16' WHEN 1 THEN 'au' WHEN 2 THEN 'aiff'
                     WHEN 3 THEN 'mp3' WHEN 4 THEN 'aac_adts' WHEN 5 THEN 'png'
                     WHEN 6 THEN 'jpeg' WHEN 7 THEN 'gif' WHEN 8 THEN 'mp4'
                     ELSE 'unknown' END AS format,
              CAST(CASE WHEN k = 5 THEN 4 + doc_id % 5
                        WHEN k = 6 THEN 8 * (1 + doc_id % 3)
                        WHEN k = 7 THEN 10 + doc_id % 4
                        WHEN k = 8 THEN 16 END AS INTEGER) AS width,
              CAST(CASE WHEN k = 5 THEN 3 + doc_id % 4
                        WHEN k = 6 THEN 8 * (1 + doc_id % 2)
                        WHEN k = 7 THEN 7
                        WHEN k = 8 THEN 16 END AS INTEGER) AS height,
              CAST(CASE WHEN k = 7 THEN 1 + doc_id % 3
                        WHEN k = 8 THEN 2 + doc_id % 3 END AS BIGINT) AS n_frames,
              CAST(CASE WHEN k = 0 THEN 8000
                        WHEN k = 1 THEN 8000 + (doc_id % 3) * 4000
                        WHEN k = 2 THEN 11025
                        WHEN k = 3 THEN CASE doc_id % 3 WHEN 0 THEN 44100
                                             WHEN 1 THEN 48000 ELSE 32000 END
                        WHEN k = 4 THEN CASE doc_id % 3 WHEN 0 THEN 48000
                                             WHEN 1 THEN 44100 ELSE 32000 END
                        END AS INTEGER) AS sample_rate,
              CAST(CASE WHEN k = 0 THEN 1 + doc_id % 2
                        WHEN k = 1 THEN 1
                        WHEN k = 2 THEN 1 + doc_id % 3
                        WHEN k = 3 THEN CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
                        WHEN k = 4 THEN 1 + doc_id % 2 END AS INTEGER) AS channels,
              CAST(CASE WHEN k = 0 THEN 400 + doc_id % 5
                        WHEN k = 1 THEN 300 + doc_id % 7
                        WHEN k = 2 THEN 200 + doc_id % 5
                        WHEN k = 3 THEN (3 + doc_id % 4) * 1152
                        WHEN k = 4 THEN (2 + doc_id % 3) * 1024 END AS BIGINT) AS n_samples,
              CAST(CASE WHEN k = 6 AND doc_id % 20 = 16
                        THEN 1 + (doc_id // 20) % 8 END AS INTEGER) AS orientation,
              CAST(CASE WHEN k = 0 THEN (400 + doc_id % 5) * 1000 // 8000
                        WHEN k = 1 THEN (300 + doc_id % 7) * 1000
                                        // (8000 + (doc_id % 3) * 4000)
                        WHEN k = 2 THEN (200 + doc_id % 5) * 1000 // 11025
                        WHEN k = 3 THEN (3 + doc_id % 4) * 1152 * 1000
                                        // (CASE doc_id % 3 WHEN 0 THEN 44100
                                            WHEN 1 THEN 48000 ELSE 32000 END)
                        WHEN k = 4 THEN (2 + doc_id % 3) * 1024 * 1000
                                        // (CASE doc_id % 3 WHEN 0 THEN 48000
                                            WHEN 1 THEN 44100 ELSE 32000 END)
                        WHEN k = 7 THEN (1 + doc_id % 3) * 40
                        WHEN k = 8 THEN (2 + doc_id % 3) * 100 END AS BIGINT) AS duration_ms
            FROM d ORDER BY doc_id"""))

  /** Container-metadata breadth for the formats q_media_meta doesn't
    * reach ([[graft.multimodal.Multimodal.mediaMeta]] over EBML and
    * Ogg — r17): webm/mkv through the varint element walk (DocType
    * refinement, video PixelWidth/Height, a muxed file reporting BOTH
    * video dims and audio rate/channels, the all-ones unknown-size
    * Segment live muxers emit) and Ogg through the page walk (codec
    * refined from the id packet — Vorbis rate/channels vs Opus's
    * spec-pinned 48 kHz granule rate — and total samples from the
    * last page's granule position), plus AVIF/HEIC dims through the
    * meta-box property walk (pitm + ipma association — the fixture
    * plants a THUMBNAIL ispe ahead of the primary, so grabbing the
    * first property would report 32×24 instead of the master image)
    * and webm duration from Info (TimecodeScale × Duration). Every
    * field replayed from fixture arithmetic.
    */
  private val qMediaMetaContainers = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 300)
        .map { id =>
          val bytes = (id % 8) match {
            case 0 => graft.multimodal.Multimodal.makeWebm(
              320 + (id % 5).toInt, 240)
            case 1 => graft.multimodal.Multimodal.makeWebm(
              640, 360, audioRate = if (id % 2 == 0) 44100 else 48000,
              audioCh = 1 + (id % 2).toInt, durationMs = 1500 + (id % 7).toInt)
            case 2 => graft.multimodal.Multimodal.makeWebm(
              100 + (id % 7).toInt, 80, docType = "matroska")
            case 3 => graft.multimodal.Multimodal.makeWebm(
              25 + (id % 3).toInt, 20, unknownSegmentSize = true)
            case 4 => graft.multimodal.Multimodal.makeOgg(
              1000 + (id % 9), 8000 + (id % 3).toInt * 4000,
              1 + (id % 2).toInt, opus = false, id)
            case 5 => graft.multimodal.Multimodal.makeOgg(
              2000 + (id % 5), 12345, 2, opus = true, id)
            case 6 => graft.multimodal.Multimodal.makeHeifHeader(
              200 + (id % 5).toInt, 150, "avif", thumbW = 32, thumbH = 24)
            case _ => graft.multimodal.Multimodal.makeHeifHeader(
              99, 77 + (id % 3).toInt, "heic1")
          }
          (id, bytes)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.mediaMeta(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 8 AS k FROM documents WHERE doc_id < 300)
            SELECT doc_id,
              CASE WHEN k <= 3 THEN 'video'
                   WHEN k IN (4, 5) THEN 'audio' ELSE 'image' END AS kind,
              CASE k WHEN 2 THEN 'mkv' WHEN 4 THEN 'ogg_vorbis'
                     WHEN 5 THEN 'ogg_opus' WHEN 6 THEN 'avif'
                     WHEN 7 THEN 'heic' ELSE 'webm' END AS format,
              CAST(CASE WHEN k = 0 THEN 320 + doc_id % 5
                        WHEN k = 1 THEN 640
                        WHEN k = 2 THEN 100 + doc_id % 7
                        WHEN k = 3 THEN 25 + doc_id % 3
                        WHEN k = 6 THEN 200 + doc_id % 5
                        WHEN k = 7 THEN 99 END AS INTEGER) AS width,
              CAST(CASE WHEN k = 0 THEN 240 WHEN k = 1 THEN 360
                        WHEN k = 2 THEN 80 WHEN k = 3 THEN 20
                        WHEN k = 6 THEN 150
                        WHEN k = 7 THEN 77 + doc_id % 3 END AS INTEGER) AS height,
              CAST(NULL AS BIGINT) AS n_frames,
              CAST(CASE WHEN k = 1 THEN CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END
                        WHEN k = 4 THEN 8000 + (doc_id % 3) * 4000
                        WHEN k = 5 THEN 48000 END AS INTEGER) AS sample_rate,
              CAST(CASE WHEN k = 1 THEN 1 + doc_id % 2
                        WHEN k = 4 THEN 1 + doc_id % 2
                        WHEN k = 5 THEN 2 END AS INTEGER) AS channels,
              CAST(CASE WHEN k = 4 THEN 1000 + doc_id % 9
                        WHEN k = 5 THEN 2000 + doc_id % 5 END AS BIGINT) AS n_samples,
              CAST(NULL AS INTEGER) AS orientation,
              CAST(CASE WHEN k = 1 THEN 1500 + doc_id % 7
                        WHEN k = 4 THEN (1000 + doc_id % 9) * 1000
                                        // (8000 + (doc_id % 3) * 4000)
                        WHEN k = 5 THEN (2000 + doc_id % 5) * 1000 // 48000
                        END AS BIGINT) AS duration_ms
            FROM d ORDER BY doc_id"""))

  /** Perceptual image hashing over JPEG payloads ([[graft.multimodal
    * .Multimodal.imageAHashes]] through the REAL entropy path): 64×64
    * grayscale DC-only JPEGs — baseline (even ids) and PROGRESSIVE
    * (odd ids) streams of the identical closed form — so each 8×8
    * aHash block aligns exactly with one flat 8×8 JPEG block of value
    * `((id + bj·31 + bi·7) mod 200) + 28`, and the oracle reconstructs
    * all 64 bits at BLOCK granularity: bit(bi,bj) = v·64 ≥ Σv (the
    * exact cross-multiplication `blockSum·nTotal ≥ total·nBlock`
    * reduced by the flat-block structure).
    */
  private val qImageAHashJpeg = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val b =
            if (id % 2 == 0) graft.multimodal.Multimodal.makeJpeg(64, 64, id, gray = true)
            else graft.multimodal.Multimodal.makeJpegProgressive(64, 64, id, gray = true)
          (id, b)
        }.toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageAHashes(s, bins)
        .orderBy("doc_id")
    },
    Some("""WITH blk AS (
              SELECT d.doc_id, br.bi AS bi, bc.bj AS bj,
                     ((d.doc_id + bc.bj * 31 + br.bi * 7) % 200) + 28 AS v
              FROM documents d
              JOIN generate_series(0, 7) br(bi) ON TRUE
              JOIN generate_series(0, 7) bc(bj) ON TRUE),
            tot AS (SELECT doc_id, SUM(v) AS total FROM blk GROUP BY doc_id),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.v * 64 >= t.total THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS s
                   FROM bits GROUP BY doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN s >= 9223372036854775808
                        THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
            FROM hs ORDER BY doc_id"""))

  /** Both perceptual keys in ONE decode pass ([[graft.multimodal
    * .Multimodal.imageDualHashes]]): the measured division of labor
    * says run aHash AND pHash when the duplicate class is unknown, and
    * decode dominates the hash cost — so the dual operator emits both
    * from a single grid instead of two full decode scans. The oracle
    * replays BOTH laws over the shared closed-form JPEG blocks: the
    * block-mean cross-multiplication (every aHash bit) joined to the
    * full DCT chain (every pHash bit).
    */
  private val qImageDualHash = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter((id: Long) => id < 150)
        .map(id => (id, graft.multimodal.Multimodal.makeJpeg(64, 64, id, gray = true)))
        .toDF("doc_id", "payload")
      graft.multimodal.Multimodal.imageDualHashes(s, bins).orderBy("doc_id")
    }, {
      val basis = graft.multimodal.Multimodal.PHashBasis.mkString(", ")
      Some(s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 150),
              blk AS (SELECT i.doc_id, br.bi AS bi, bc.bj AS bj,
                             ((i.doc_id + bc.bj * 31 + br.bi * 7) % 200) + 28 AS v
                      FROM ids i
                      JOIN generate_series(0, 7) br(bi) ON TRUE
                      JOIN generate_series(0, 7) bc(bj) ON TRUE),
              tot AS (SELECT doc_id, SUM(v) AS total FROM blk GROUP BY doc_id),
              abits AS (SELECT b.doc_id, bi, bj,
                               CASE WHEN b.v * 64 >= t.total THEN 1 ELSE 0 END AS bit
                        FROM blk b JOIN tot t USING (doc_id)),
              ah AS (SELECT doc_id,
                            SUM(CASE WHEN bit = 1
                                THEN (1::HUGEINT << (bi*8 + bj))
                                ELSE 0::HUGEINT END) AS s
                     FROM abits GROUP BY doc_id),
              cells AS (SELECT b.doc_id, gx.x AS gx, gy.x AS gy,
                               CAST(b.v AS BIGINT) AS cv
                        FROM blk b
                        JOIN generate_series(0, 31) gx(x) ON gx.x // 4 = b.bj
                        JOIN generate_series(0, 31) gy(x) ON gy.x // 4 = b.bi),
              basis AS (SELECT t.i // 32 AS u, t.i % 32 AS x,
                               CAST(([$basis])[t.i + 1] AS BIGINT) AS b
                        FROM generate_series(0, 1023) t(i)),
              co AS (SELECT c.doc_id, bu.u AS u, bv.u AS v,
                            SUM(c.cv * bu.b * bv.b) AS coef
                     FROM cells c
                     JOIN basis bu ON bu.x = c.gx AND bu.u < 8
                     JOIN basis bv ON bv.x = c.gy AND bv.u < 8
                     WHERE NOT (bu.u = 0 AND bv.u = 0)
                     GROUP BY 1, 2, 3),
              med AS (SELECT doc_id, coef AS m
                      FROM (SELECT doc_id, coef,
                                   row_number() OVER (PARTITION BY doc_id
                                                      ORDER BY coef) AS rn
                            FROM co)
                      WHERE rn = 32),
              ph AS (SELECT co.doc_id,
                            CAST(SUM(CASE WHEN co.coef > med.m
                                THEN CAST(1 AS BIGINT) << (v * 8 + u - 1)
                                ELSE 0 END) AS BIGINT) AS phash
                     FROM co JOIN med USING (doc_id)
                     GROUP BY co.doc_id)
            SELECT ah.doc_id,
                   CAST(CASE WHEN ah.s >= 9223372036854775808
                        THEN ah.s - 18446744073709551616 ELSE ah.s END AS BIGINT) AS ahash,
                   ph.phash
            FROM ah JOIN ph ON ph.doc_id = ah.doc_id
            ORDER BY ah.doc_id""")
    })

  /** Image near-dup pairs ([[graft.multimodal.Multimodal
    * .imageNearDups]] — decode → aHash → the pigeonhole-blocked Hamming
    * join): ids share one of 40 image seeds, and every second seed
    * cohort carries a ONE-PIXEL edit (display (0,0) blown to white) —
    * exact copies pair at Hamming 0, edited-vs-clean pairs land
    * wherever the block arithmetic puts them, and the oracle replays
    * hash construction AND the brute-force Hamming filter, so the
    * blocked join is checked against ground truth on data with real
    * near-miss structure.
    */
  private val qImageNearDup = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .filter(col("doc_id") < 200)
        .map { id =>
          val b = graft.multimodal.Multimodal.makeBmp(16, 16, id % 40)
          if ((id / 40) % 2 == 1) {
            // storage row 15 = display row 0; stride(w=16) = 48
            val base = 54 + 15 * 48
            b(base) = 255.toByte; b(base + 1) = 255.toByte; b(base + 2) = 255.toByte
          }
          (id, b)
        }.toDF("doc_id", "payload")
      val hashes = graft.multimodal.Multimodal.imageAHashes(s, bins)
      graft.multimodal.Multimodal.imageNearDups(hashes, maxHamming = 6)
        .orderBy("id_a", "id_b")
    },
    Some("""WITH px AS (
              SELECT d.doc_id, r.r AS r, x.x AS x,
                     CASE WHEN (d.doc_id // 40) % 2 = 1 AND r.r = 0 AND x.x = 0
                          THEN 765
                          ELSE (d.doc_id % 40 + (15 - r.r) * 31 + (3*x.x + 0) * 7) % 256
                             + (d.doc_id % 40 + (15 - r.r) * 31 + (3*x.x + 1) * 7) % 256
                             + (d.doc_id % 40 + (15 - r.r) * 31 + (3*x.x + 2) * 7) % 256
                     END AS gray
              FROM documents d
              JOIN generate_series(0, 15) r(r) ON TRUE
              JOIN generate_series(0, 15) x(x) ON TRUE
              WHERE d.doc_id < 200),
            tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
            blk AS (SELECT doc_id, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          CAST(CASE WHEN s >= 9223372036854775808
                               THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS ahash
                   FROM (SELECT doc_id,
                                SUM(CASE WHEN bit = 1
                                    THEN (1::HUGEINT << (bi*8 + bj))
                                    ELSE 0::HUGEINT END) AS s
                         FROM bits GROUP BY doc_id)),
            pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                             CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
                      FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, hamming FROM pairs
            WHERE hamming <= 6 ORDER BY id_a, id_b"""))

  private val qBmpResize = Q(
    (s, dir) => {
      import s.implicits._
      val bins = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 1 + (id % 16).toInt
          val h = 1 + (id % 8).toInt
          (id, graft.multimodal.Multimodal.makeBmp(w, h, id))
        }.toDF("doc_id", "payload")
      val resized = graft.multimodal.Multimodal.resizePayloads(s, bins, 4, 3)
      graft.multimodal.Multimodal.extractFeatures(s, resized)
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("n_bytes"),
          round(element_at(col("features"), 4) *
            (col("width") * col("height") * lit(3L) * lit(255L)))
            .cast(LongType).as("pixel_byte_sum"))
        .orderBy("doc_id")
    },
    Some("""WITH dims AS (
              SELECT doc_id,
                     CAST(1 + doc_id % 16 AS BIGINT) AS w,
                     CAST(1 + doc_id % 8 AS BIGINT) AS h
              FROM documents),
            px AS (
              SELECT d.doc_id,
                     SUM((d.doc_id
                          + (d.h - 1 - ((y.y * d.h) // 3)) * 31
                          + (3 * ((x.x * d.w) // 4) + c.c) * 7) % 256) AS psum
              FROM dims d
              JOIN generate_series(0, 3) AS x(x) ON TRUE
              JOIN generate_series(0, 2) AS y(y) ON TRUE
              JOIN generate_series(0, 2) AS c(c) ON TRUE
              GROUP BY d.doc_id)
            SELECT doc_id, 'bmp' AS format,
                   CAST(4 AS INT) AS width, CAST(3 AS INT) AS height,
                   CAST(90 AS INT) AS n_bytes,
                   CAST(psum AS BIGINT) AS pixel_byte_sum
            FROM px ORDER BY doc_id"""))

  /** KEYED range join ([[graft.ops.RangeJoin.bucketedRangeJoin]] with
    * `keyCols`): per-user 1-hour attribution windows opened by purchase
    * events, joined to that user's events inside the window. The equality
    * key rides the equi-join — candidates are bounded per (user, bucket),
    * the shape that keeps pair density constant as the data grows
    * (BASELINE.md round-8 soak: the unkeyed form is output-linear, but
    * output itself grows with co-located density²). Micros arithmetic on
    * both sides (epoch_us ≡ the reader's nanos→micros floor).
    */
  private val qRangeJoinKeyed = Q(
    (s, dir) => {
      val ev = Tables.readEvents(s, dir)
      val probe = ev.select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val wins = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("win_id"),
          col("ts").as("ws"), (col("ts") + expr("INTERVAL 1 HOUR")).as("we"))
      graft.ops.RangeJoin.bucketedRangeJoin(probe, "ts", wins, "ws", "we",
          widthMicros = 3600L * 1000000L, keyCols = Seq("user_id"))
        .groupBy("win_id")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
        .orderBy("win_id")
    },
    Some("""WITH wins AS (
              SELECT user_id, event_id AS win_id, epoch_us(ts) AS ws_us,
                     epoch_us(ts) + 3600000000 AS we_us
              FROM events WHERE event_type = 'purchase')
            SELECT w.win_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(e.value), 2) AS total_value
            FROM wins w JOIN events e
              ON e.user_id = w.user_id
             AND epoch_us(e.ts) >= w.ws_us AND epoch_us(e.ts) < w.we_us
            GROUP BY w.win_id ORDER BY w.win_id"""))

  /** Attribution join ([[graft.streaming.EventStreams.attributionJoin]],
    * batch form — `withWatermark` is a no-op here; StreamingSpec proves
    * stream ≡ batch for the same operator): views joined to the same
    * user's purchases within 1 hour after, micros arithmetic both sides.
    */
  private val qAttribution = Q(
    (s, dir) => {
      val ev = Tables.readEvents(s, dir)
      graft.streaming.EventStreams.attributionJoin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"))
        .select(col("view_id"), col("purchase_id"), col("user_id"), col("purchase_value"))
        .orderBy("view_id", "purchase_id")
    },
    Some("""SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
                   p.value AS purchase_value
            FROM events v JOIN events p
              ON p.user_id = v.user_id
             AND epoch_us(p.ts) >= epoch_us(v.ts)
             AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000
            WHERE v.event_type = 'view' AND p.event_type = 'purchase'
            ORDER BY view_id, purchase_id"""))

  private val qSessionize = Q(
    (s, dir) =>
      graft.ops.Sessionize.sessionStats(
        Tables.readEvents(s, dir), "user_id", "ts",
        gapSeconds = 1800, valueCol = "value", tieBreak = Seq(col("event_id")))
        .withColumn("session_id", col("session_id").cast(LongType))
        .orderBy("user_id", "session_id"),
    Some("""WITH flags AS (
              SELECT user_id, event_id, value, epoch_us(ts) AS us,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
                          ELSE 0 END AS is_start
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, value, us,
                     SUM(is_start) OVER (PARTITION BY user_id ORDER BY us, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM flags)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(us) AS start_us, MAX(us) AS end_us,
                   ROUND(SUM(value), 2) AS total_value
            FROM sess GROUP BY user_id, session_id
            ORDER BY user_id, session_id"""))

  /** As-of join: every event gets the user's most recent purchase value at
    * that moment. Oracle: DuckDB's native ASOF JOIN.
    */
  private val qAsOf = Q(
    (s, dir) => {
      val ev = Tables.readEvents(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts").cast("timestamp")).as("t"), col("event_type"))
      val purchases = Tables.readEvents(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("t"), col("value").as("last_purchase"))
      graft.ops.AsOfJoin.asOf(ev, purchases, "user_id", "t", Seq("last_purchase"))
        .select("event_id", "user_id", "t", "last_purchase")
        .orderBy("event_id")
    },
    Some("""SELECT e.event_id, e.user_id, epoch_us(e.ts) AS t, p.value AS last_purchase
            FROM events e
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') p
            ON e.user_id = p.user_id AND e.ts >= p.ts
            ORDER BY e.event_id"""))

  /** Time-series resampling: irregular events → daily bins per type. */
  private val qResample = Q(
    (s, dir) =>
      Tables.readEvents(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .withColumn("day", Cleansing.formatPartitionDate(col("day")))
        .orderBy("day", "event_type"),
    Some("""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS total
            FROM events GROUP BY 1, 2 ORDER BY day, event_type"""))

  private val qJson = Q(
    (s, dir) =>
      Tables.readEvents(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").try_cast(IntegerType))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type"),
    Some("""SELECT event_type,
                   CAST(SUM(TRY_CAST(regexp_extract(props, '[0-9]+') AS INTEGER)) AS BIGINT) AS sum_k,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Per-stratum adaptive quality gate ([[graft.ops.Normalize
    * .quantileGate]]): drop each language's bottom length quartile — the
    * FineWeb-style "threshold adapts to the stratum" curation step. The
    * per-lang cutoff is an aggregate joined back (AQE-broadcast), never a
    * `Window.partitionBy(lang)` whose parallelism would be |langs| (the
    * Normalize 100× soak lesson). n_chars is integral, so the
    * interpolated quartile and the `>=` comparison are exact IEEE in both
    * engines (q_group_quantiles precedent).
    */
  private val qQuantileGate = Q(
    (s, dir) =>
      graft.ops.Normalize.quantileGate(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"), "n_chars", q = 0.25)
        .orderBy("doc_id"),
    Some("""WITH thr AS (SELECT lang, quantile_cont(n_chars, 0.25) AS t
                         FROM documents GROUP BY lang)
            SELECT doc_id, lang, n_chars
            FROM documents JOIN thr USING (lang)
            WHERE n_chars >= t ORDER BY doc_id"""))

  /** Per-group winsorization ([[graft.ops.Normalize.winsorize]]):
    * l_quantity clipped to its stratum's exact [p05, p95] — keeps every
    * row, bounds tail leverage. Spark `percentile` ≡ DuckDB
    * `quantile_cont` on integral-valued doubles, so clip bounds and all
    * clipped values hash-match.
    */
  private val qWinsorize = Q(
    (s, dir) =>
      // the histogram percentile engine (winsorizeHist): bit-identical
      // clips, but per-group state is a (key, value) partial aggregate,
      // not the builtin percentile's in-memory value buffer — integral
      // l_quantity is exactly its intended regime
      graft.ops.Normalize.winsorizeHist(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                  "l_returnflag", "l_quantity"),
        Seq("l_returnflag"), "l_quantity", "w_qty")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
    Some("""WITH s AS (SELECT l_returnflag,
                              quantile_cont(l_quantity, 0.05) AS lo,
                              quantile_cont(l_quantity, 0.95) AS hi
                       FROM lineitem GROUP BY l_returnflag)
            SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
                   l.l_returnflag, l.l_quantity,
                   LEAST(GREATEST(l.l_quantity, s.lo), s.hi) AS w_qty
            FROM lineitem l JOIN s USING (l_returnflag)
            ORDER BY 1, 2, 3, 4"""))

  /** Per-document TF-IDF keywords ([[graft.text.CorpusStats
    * .tfIdfTopTerms]]): top-3 scoring terms per doc. One token explode
    * feeds both frequency tables; the doc count attaches as a broadcast
    * 1-row frame; the top-k window partitions by doc id (cardinality =
    * corpus → full parallelism). Rank compares the ROUNDed score, so an
    * `ln` last-ulp difference between engines cannot reorder rows.
    */
  private val qTfidf = Q(
    (s, dir) =>
      graft.text.CorpusStats.tfIdfTopTerms(
        t(s, dir, "documents"), "doc_id", "text", topK = 3)
        .orderBy("id", "token"),
    Some("""WITH tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
                         FROM documents),
            tf AS (SELECT id, token, CAST(COUNT(*) AS BIGINT) AS tf
                   FROM tok GROUP BY id, token),
            dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
            nd AS (SELECT COUNT(*) AS n FROM documents),
            scored AS (
              SELECT id, token, tf, df,
                     ROUND(tf * (ln(CAST(n + 1 AS DOUBLE) / (df + 1)) + 1.0), 6) AS tfidf
              FROM tf JOIN dfq USING (token) CROSS JOIN nd),
            r AS (SELECT *, row_number() OVER (PARTITION BY id
                                               ORDER BY tfidf DESC, token) AS rk
                  FROM scored)
            SELECT id, token, tf, df, tfidf FROM r WHERE rk <= 3
            ORDER BY id, token"""))

  /** Corpus bigram collocations ([[graft.text.CorpusStats.pmiBigrams]]):
    * top-50 adjacent pairs by count with ROUNDed PMI. Ranking is pure
    * integer (count, then pair) — the float pmi is a report column — so
    * the result is hash-stable; the min-count threshold prunes the
    * singleton tail before any join.
    */
  /** Winnowed fingerprints ([[graft.text.Winnow.fingerprints]]):
    * positions whose 16-char shingle hash is the minimum within 7
    * positions either side — the self-synchronizing selection that
    * re-aligns after edits (fixed-stride spans do not). One scan, one
    * id-partitioned window; ~1/w of positions survive.
    */
  private val qWinnow = Q(
    (s, dir) =>
      graft.text.Winnow.fingerprints(t(s, dir, "documents"),
        "doc_id", "text", k = 16, w = 8)
        .orderBy("id", "pos"),
    Some(s"""WITH sh AS (
              SELECT doc_id AS id, CAST(i AS INTEGER) AS pos,
                     ${md5LongSql("substr(text, i + 1, 16)")} AS h
              FROM (SELECT doc_id, text,
                           unnest(range(0, len(text) - 16 + 1)) AS i
                    FROM documents WHERE len(text) >= 16)),
            m AS (SELECT id, pos, h,
                         MIN(h) OVER (PARTITION BY id ORDER BY pos
                                      ROWS BETWEEN 7 PRECEDING
                                               AND 7 FOLLOWING) AS m
                  FROM sh)
            SELECT id, pos, h FROM m WHERE h = m ORDER BY id, pos"""))

  /** The 100 TB winnowing path ([[graft.text.Winnow.fingerprintsFast]]):
    * single-pass rolling-hash + deque selection via the codegen
    * [[graft.functions.WinnowPositions]] expression — same contract as
    * q_winnow, different hash family. The two-lane mod-P polynomial
    * (each lane < 2^31) is chosen precisely so the oracle CAN replay
    * it: DuckDB recomputes each position's hash from scratch with an
    * unrolled Horner chain in plain BIGINT arithmetic (intermediates
    * ≤ (P−1)·B + cp < 2^52, no wrapping anywhere), then replays the
    * selection as a window MIN — the Spark side's O(1)-per-position
    * rolling update and monotonic deque are the scale path for the
    * same function.
    */
  private val qWinnowFast = {
    import graft.functions.WinnowPositions.{B1, B2, P1, P2}
    def lane(b: Long, p: Long): String =
      (1 to 16).foldLeft("0")((acc, j) =>
        s"(($acc) * CAST($b AS BIGINT) + unicode(substr(text, i + $j, 1))) % $p")
    Q(
      (s, dir) =>
        graft.text.Winnow.fingerprintsFast(t(s, dir, "documents"),
          "doc_id", "text", k = 16, w = 8)
          .orderBy("id", "pos"),
      Some(s"""WITH sh AS (
              SELECT doc_id AS id, CAST(i AS INTEGER) AS pos,
                     (${lane(B1, P1)}) * CAST($P2 AS BIGINT)
                       + (${lane(B2, P2)}) AS h
              FROM (SELECT doc_id, text,
                           unnest(range(0, len(text) - 16 + 1)) AS i
                    FROM documents WHERE len(text) >= 16)),
            m AS (SELECT id, pos, h,
                         MIN(h) OVER (PARTITION BY id ORDER BY pos
                                      ROWS BETWEEN 7 PRECEDING
                                               AND 7 FOLLOWING) AS m
                  FROM sh)
            SELECT id, pos, h FROM m WHERE h = m ORDER BY id, pos"""))
  }

  /** Content-defined chunking stats ([[graft.text.Winnow.cdcChunkStats]]):
    * boundaries where the shingle hash ≡ 0 (mod 64) — expected 64-char
    * chunks that re-anchor on content after insertions. One scan
    * (explode_outer keeps sub-k docs as one-chunk rows), exact integer
    * average.
    */
  private val qCdcChunks = Q(
    (s, dir) =>
      graft.text.Winnow.cdcChunkStats(t(s, dir, "documents"),
        "doc_id", "text", k = 16, modulus = 64)
        .orderBy("id"),
    Some(s"""WITH sh AS (
              SELECT doc_id AS id, ${md5LongSql("substr(text, i + 1, 16)")} AS h
              FROM (SELECT doc_id, text,
                           unnest(range(0, len(text) - 16 + 1)) AS i
                    FROM documents WHERE len(text) >= 16)),
            b AS (SELECT id, COUNT(*) AS nb FROM sh
                  WHERE h % 64 = 0 GROUP BY id)
            SELECT d.doc_id AS id,
                   CAST(COALESCE(nb, 0) + 1 AS BIGINT) AS n_chunks,
                   CAST(len(d.text) // (COALESCE(nb, 0) + 1) AS BIGINT)
                     AS avg_chunk_chars
            FROM documents d LEFT JOIN b ON b.id = d.doc_id
            ORDER BY id"""))

  /** BPE first-round merge candidates
    * ([[graft.text.Bpe.mergeCandidates]]): corpus-frequency counts of
    * adjacent character pairs inside lowercased words — the
    * distributed counting step of tokenizer training, one shuffle of
    * 2-char keys with map-side partial aggregation.
    */
  private val qBpeMerges = Q(
    (s, dir) =>
      graft.text.Bpe.mergeCandidates(t(s, dir, "documents"), "text", k = 20),
    Some("""WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                       FROM documents),
            p AS (SELECT substr(w, i, 2) AS pair
                  FROM (SELECT w, unnest(range(1, len(w))) AS i
                        FROM w WHERE len(w) >= 2))
            SELECT pair, CAST(COUNT(*) AS BIGINT) AS pair_count
            FROM p GROUP BY pair
            ORDER BY pair_count DESC, pair LIMIT 20"""))

  private val qPmiBigrams = Q(
    (s, dir) =>
      graft.text.CorpusStats.pmiBigrams(
        t(s, dir, "documents"), "text", minCount = 5, topN = 50),
    Some("""WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
            uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS uc
                   FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
            bc AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS pair_count
                   FROM (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                  i -> tk[i] || ' ' || tk[i+1])) AS pair
                         FROM t WHERE len(tk) >= 2)
                   GROUP BY pair HAVING COUNT(*) >= 5),
            tot AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS tt,
                           CAST(SUM(greatest(len(tk) - 1, 0)) AS BIGINT) AS tb
                    FROM t),
            j AS (SELECT pair, pair_count, u1.uc AS c1, u2.uc AS c2
                  FROM bc
                  JOIN uc u1 ON u1.w = split_part(pair, ' ', 1)
                  JOIN uc u2 ON u2.w = split_part(pair, ' ', 2))
            SELECT pair, pair_count, c1, c2,
                   ROUND(ln(CAST(pair_count AS DOUBLE) * CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE)
                            / (CAST(tb AS DOUBLE) * CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
            FROM j CROSS JOIN tot
            ORDER BY pair_count DESC, pair LIMIT 50"""))

  /** One k-means Lloyd iteration over the embeddings corpus
    * ([[graft.similarity.Kmeans.lloydStep]]): assignment replays the
    * q_ann_ivf centroid construction (deterministic md5-sampled
    * centroids, ROUNDed argmax-cosine, larger-cell tie-break); the
    * recentering means are FIXED-POINT (2³⁰-scaled long sums — exact in
    * any partition-merge order), which is what makes a float mean
    * hash-checkable across engines at all.
    */
  private val qKmeansStep = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Ivf.centroids(emb, nLists = 8)
      graft.similarity.Kmeans.lloydStep(emb, cents)
        .orderBy("cell", "pos")
    },
    Some("""WITH cents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              LIMIT 8),
            assign AS (
              SELECT cid, cvec, cell FROM (
                SELECT e.vec_id AS cid, e.embedding::DOUBLE[] AS cvec, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings e CROSS JOIN cents c)
              WHERE rn = 1),
            dims AS (
              SELECT cell, unnest(list_transform(generate_series(1, len(cvec)),
                       i -> {'pos': i - 1,
                             'fx': CAST(ROUND(cvec[i] * 1073741824.0) AS BIGINT)})) AS u
              FROM assign),
            agg AS (SELECT cell, u.pos AS pos, CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(u.fx) AS BIGINT) AS sfx
                    FROM dims GROUP BY cell, u.pos)
            SELECT cell, CAST(pos AS INTEGER) AS pos, n,
                   ROUND(CAST(sfx AS DOUBLE) / (n * 1073741824.0), 6) AS mean
            FROM agg ORDER BY cell, pos"""))

  /** Shared CTE chain for the PCA oracles ([[graft.similarity.Pca]]):
    * fixed-point quantization → truncating-division means → exact
    * integer covariance → `iters` power-iteration rounds replayed
    * term-for-term in HUGEINT (the iteration state is renormalized by
    * truncating division against max-|entry| each round, exactly the
    * driver's BigInt arithmetic). Iteration CTEs are MATERIALIZED:
    * inlined, each round's two references to the previous one double
    * the plan — 2^iters blowup (measured: the un-hinted 12-round chain
    * exhausted file handles re-opening the parquet).
    */
  private def pcaCtes(scaleBits: Int, iters: Int): String = {
    val s = 1L << scaleBits
    val base =
      s"""xq AS MATERIALIZED (
            SELECT vec_id AS id, u.pos AS pos,
                   CAST(ROUND(u.v * $s.0) AS BIGINT) AS fx
            FROM (SELECT vec_id,
                         unnest(list_transform(generate_series(1, len(embedding)),
                           i -> {'pos': i - 1, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
                  FROM embeddings)),
          mn AS (SELECT pos, CASE WHEN SUM(fx) < 0 THEN -1 ELSE 1 END
                            * (ABS(CAST(SUM(fx) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)) AS mfx
                 FROM xq GROUP BY pos),
          dxt AS MATERIALIZED (SELECT id, pos, fx - mfx AS dxv
                               FROM xq JOIN mn USING (pos)),
          cov AS MATERIALIZED (
            SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.dxv * b.dxv) AS BIGINT) AS cfx
            FROM dxt a JOIN dxt b USING (id) GROUP BY 1, 2),
          seed AS (SELECT i AS sdim FROM cov WHERE i = j
                   ORDER BY cfx DESC, i LIMIT 1),
          it0 AS MATERIALIZED (
            SELECT i AS dim,
                   CASE WHEN i = (SELECT sdim FROM seed) THEN CAST($s AS HUGEINT)
                        ELSE CAST(0 AS HUGEINT) END AS vfx
            FROM (SELECT DISTINCT i FROM cov))"""
    val rounds = (1 to iters).map { k =>
      s"""it$k AS MATERIALIZED (
            SELECT dim, CASE WHEN w < 0 THEN -1 ELSE 1 END
                        * ((ABS(w) * $s) // GREATEST(MAX(ABS(w)) OVER (), 1)) AS vfx
            FROM (SELECT c.i AS dim, SUM(CAST(c.cfx AS HUGEINT) * v.vfx) AS w
                  FROM cov c JOIN it${k - 1} v ON c.j = v.dim GROUP BY 1))"""
    }
    val sgn =
      s"""sgn AS (SELECT CASE WHEN (SELECT vfx FROM it$iters
                                    WHERE ABS(vfx) = (SELECT MAX(ABS(vfx)) FROM it$iters)
                                    ORDER BY dim LIMIT 1) < 0
                              THEN -1 ELSE 1 END AS sg)"""
    (base +: rounds :+ sgn).mkString(",\n")
  }

  /** Deterministic top principal component ([[graft.similarity.Pca
    * .topComponentFx]]): 12 fixed-point power-iteration rounds over the
    * exact integer covariance of the embedding corpus; the d-row loading
    * table IS the hash-checked result, and the oracle replays the entire
    * training — quantization, means, covariance, every iteration, the
    * sign rule — in SQL.
    */
  private val qPcaPower = Q(
    (s, dir) =>
      graft.similarity.Pca.componentDf(s, t(s, dir, "embeddings"), dim = 64)
        .orderBy("pos"),
    Some(s"""WITH ${pcaCtes(scaleBits = 18, iters = 12)}
            SELECT CAST(dim AS INTEGER) AS pos, CAST(vfx * sg AS BIGINT) AS loading_fx
            FROM it12, sgn ORDER BY pos"""))

  /** Per-vector projection onto the trained component
    * ([[graft.similarity.Pca.fitProject]]): the centered integer dot
    * product per embedding — a drift/outlier feature column. The oracle
    * re-trains through the same 12 rounds and joins the component back,
    * transitively re-checking training through every row's projection.
    */
  private val qPcaProject = Q(
    (s, dir) =>
      graft.similarity.Pca.fitProject(s, t(s, dir, "embeddings"), dim = 64)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id"),
    Some(s"""WITH ${pcaCtes(scaleBits = 18, iters = 12)}
            SELECT d.id AS vec_id,
                   CAST(SUM(d.dxv * CAST(f.vfx * sg AS BIGINT)) AS BIGINT) AS proj_fx
            FROM dxt d JOIN it12 f ON d.pos = f.dim CROSS JOIN sgn
            GROUP BY d.id ORDER BY vec_id"""))

  /** The INCREMENTAL covariance path ([[graft.similarity.Pca
    * .writeMomentSegments]] → [[graft.similarity.Pca
    * .momentComponentDf]]): the same component, but trained from two
    * appended half-corpus raw-moment segments (vec_id parity) merged
    * FROM DISK. Union-of-segments ≡ covariance-of-union holds exactly
    * for integer moments, so the one-shot [[qPcaPower]] oracle checks
    * the round trip verbatim — the algebraic contract of every segment
    * family (HLL, quantile, top-k), extended to second moments.
    */
  private val qPcaIncremental = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val segPath = scratchDir("graft_pca_seg").resolve("seg").toString
      graft.similarity.Pca.writeMomentSegments(
        emb.filter(col("vec_id") % 2 === 0), dim = 64, segPath)
      graft.similarity.Pca.writeMomentSegments(
        emb.filter(col("vec_id") % 2 =!= 0), dim = 64, segPath)
      graft.similarity.Pca.momentComponentDf(s, segPath, dim = 64)
        .orderBy("pos")
    },
    Some(s"""WITH ${pcaCtes(scaleBits = 18, iters = 12)}
            SELECT CAST(dim AS INTEGER) AS pos, CAST(vfx * sg AS BIGINT) AS loading_fx
            FROM it12, sgn ORDER BY pos"""))

  /** Embedding drift between two corpus epochs ([[graft.similarity.Pca
    * .embeddingDrift]]): per-dimension Welch-style standardized mean
    * shift computed ONLY from stored moment segments (two sketch-sized
    * reads — neither corpus is re-scanned). The two epochs here are the
    * vec_id parity halves; integer columns pin both sides' counts and
    * sums, z lives in one micro-quantized float expression the oracle
    * repeats term for term over the same quantized halves.
    */
  private val qEmbedDrift = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tmp = scratchDir("graft_drift")
      val segA = tmp.resolve("a").toString
      val segB = tmp.resolve("b").toString
      graft.similarity.Pca.writeMomentSegments(
        emb.filter(col("vec_id") % 2 === 0), dim = 64, segA)
      graft.similarity.Pca.writeMomentSegments(
        emb.filter(col("vec_id") % 2 =!= 0), dim = 64, segB)
      graft.similarity.Pca.embeddingDrift(
        s.read.parquet(segA), s.read.parquet(segB), dim = 64)
        .orderBy("pos")
    },
    Some {
      def half(tag: String, pred: String) =
        s"""x$tag AS (SELECT u.pos AS pos, CAST(ROUND(u.v * 262144.0) AS BIGINT) AS fx
                 FROM (SELECT vec_id,
                              unnest(list_transform(generate_series(1, len(embedding)),
                                i -> {'pos': i - 1, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
                       FROM embeddings WHERE $pred)),
           s$tag AS (SELECT pos, CAST(COUNT(*) AS BIGINT) AS n_$tag,
                            CAST(SUM(fx) AS BIGINT) AS s1_$tag,
                            SUM(fx * fx) AS s2_$tag
                     FROM x$tag GROUP BY pos)"""
      def mean(t: String) = s"(CAST(s1_$t AS DOUBLE) / CAST(n_$t AS DOUBLE))"
      def vr(t: String) =
        s"(CAST(s2_$t AS DOUBLE) / CAST(n_$t AS DOUBLE) - ${mean(t)} * ${mean(t)})"
      val varSum = s"(${vr("a")} / CAST(n_a AS DOUBLE) + ${vr("b")} / CAST(n_b AS DOUBLE))"
      s"""WITH ${half("a", "vec_id % 2 = 0")},
          ${half("b", "vec_id % 2 <> 0")}
          SELECT CAST(pos AS INTEGER) AS pos, n_a, s1_a, n_b, s1_b,
                 CASE WHEN $varSum > 0
                      THEN CAST(ROUND((${mean("a")} - ${mean("b")})
                                      / sqrt($varSum) * 1000000.0) AS BIGINT)
                      ELSE NULL END AS z_micro
          FROM sa JOIN sb USING (pos) ORDER BY pos"""
    })

  /** Embedding-dimension correlation audit ([[graft.similarity.Pca
    * .dimCorrelationFromMoments]]): Pearson correlation of every
    * dimension pair, computed only from the stored moment table — the
    * redundancy audit costs a sketch-sized read at any corpus size.
    * Exact-integer numerators, one float ratio per pair, replayed
    * term for term.
    */
  private val qEmbedCorr = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val segPath = scratchDir("graft_corr").resolve("seg").toString
      graft.similarity.Pca.writeMomentSegments(emb, dim = 64, segPath)
      graft.similarity.Pca.dimCorrelationFromMoments(
        s.read.parquet(segPath), dim = 64)
        .orderBy("i", "j")
    },
    Some("""WITH xq AS (
              SELECT vec_id AS id, u.pos AS pos,
                     CAST(ROUND(u.v * 262144.0) AS BIGINT) AS fx
              FROM (SELECT vec_id,
                           unnest(list_transform(generate_series(1, len(embedding)),
                             i -> {'pos': i - 1, 'v': CAST(embedding[i] AS DOUBLE)})) AS u
                    FROM embeddings)),
            st AS (SELECT pos, CAST(COUNT(*) AS HUGEINT) AS n,
                          CAST(SUM(fx) AS HUGEINT) AS s1,
                          CAST(SUM(fx * fx) AS HUGEINT) AS s2
                   FROM xq GROUP BY pos),
            pr AS (SELECT a.pos AS i, b.pos AS j,
                          CAST(SUM(a.fx * b.fx) AS HUGEINT) AS sij
                   FROM xq a JOIN xq b ON a.id = b.id AND a.pos < b.pos
                   GROUP BY 1, 2)
            SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
                   CASE WHEN (sa.n * sa.s2 - sa.s1 * sa.s1) > 0
                         AND (sb.n * sb.s2 - sb.s1 * sb.s1) > 0
                        THEN CAST(ROUND(CAST(sa.n * sij - sa.s1 * sb.s1 AS DOUBLE)
                                        / sqrt(CAST(sa.n * sa.s2 - sa.s1 * sa.s1 AS DOUBLE)
                                               * CAST(sb.n * sb.s2 - sb.s1 * sb.s1 AS DOUBLE))
                                        * 1000000.0) AS BIGINT)
                        ELSE NULL END AS corr_micro
            FROM pr JOIN st sa ON sa.pos = pr.i JOIN st sb ON sb.pos = pr.j
            ORDER BY i, j"""))

  /** Rolling 7-day distinct active users ([[graft.ops.RollingDistinct
    * .activeKeys]]) — COUNT(DISTINCT) over a trailing window, which no
    * window frame expresses. The day-granular explode replaces the
    * day×window range self-join; every stage is a narrow hash agg with
    * map-side partials.
    */
  private val qRollingActive = Q(
    (s, dir) =>
      graft.ops.RollingDistinct.activeKeys(
        Tables.readEvents(s, dir), "ts", "user_id", windowDays = 7)
        .orderBy("day"),
    Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS k FROM events),
            days AS (SELECT DISTINCT day FROM du)
            SELECT d.day, CAST(COUNT(DISTINCT u.k) AS BIGINT) AS active
            FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
            GROUP BY d.day ORDER BY d.day"""))

  /** Shared CTE chain for the HLL oracles ([[graft.ops.Hll]]): 60-bit
    * md5 hash → register/rank split → per-(day, register) max → exact
    * BIGINT indicator sum at scale 2^54 → the single-float estimator
    * expression, term-for-term the Scala shape.
    */
  private val hllCtes: String =
    s"""ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
       hh AS (SELECT day, ${md5LongSql("CAST(user_id AS VARCHAR)")} AS h FROM ev),
       rr AS (SELECT day, h % 64 AS reg, h // 64 AS rest FROM hh),
       rh AS (SELECT day, reg,
                     CASE WHEN rest = 0 THEN 55
                          ELSE 55 - length(bin(rest)) END AS rho
              FROM rr),
       regs AS (SELECT day, reg, MAX(rho) AS maxrho FROM rh GROUP BY day, reg),
       agg AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS nreg,
                      CAST(SUM(CAST(1 AS BIGINT) << GREATEST(54 - maxrho, 0)) AS BIGINT) AS t_present
               FROM regs GROUP BY day),
       fin AS (SELECT day, CAST(64 - nreg AS BIGINT) AS v_zero,
                      t_present + (64 - nreg) * 18014398509481984 AS t_scaled
               FROM agg)"""

  private val hllSelect: String =
    """SELECT day, v_zero, t_scaled,
              CAST(ROUND((CASE WHEN v_zero > 0
                                AND (0.709 * 4096.0 * (18014398509481984.0
                                     / CAST(t_scaled AS DOUBLE))) <= 160.0
                          THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
                          ELSE 0.709 * 4096.0 * (18014398509481984.0
                               / CAST(t_scaled AS DOUBLE)) END)
                         * 1000000.0) AS BIGINT) AS est_micro
       FROM fin ORDER BY day"""

  /** Mergeable HLL distinct sketch ([[graft.ops.Hll.distinctSketch]]):
    * per-day distinct-user registers and estimate. The two integer
    * columns (empty-register count, exact power-of-two indicator sum)
    * pin the sketch bit-for-bit; the estimate is one micro-quantized
    * float expression repeated verbatim in the oracle.
    */
  private val qHllDistinct = Q(
    (s, dir) =>
      graft.ops.Hll.distinctSketch(
        Tables.readEvents(s, dir)
          .select(to_date(col("ts")).as("day"), col("user_id")),
        Seq("day"), "user_id")
        .orderBy("day"),
    Some(s"WITH $hllCtes\n$hllSelect"))

  /** The PERSISTED-segment path ([[graft.ops.Hll.writeSegments]] →
    * [[graft.ops.Hll.estimateFromSegments]]): the same per-day sketch,
    * but built as two appended half-corpus segments (user parity) and
    * merged FROM DISK — union-of-sketches ≡ sketch-of-union is the
    * algebraic invariant this gate row checks through a real round
    * trip, under the one-shot oracle verbatim.
    */
  private val qHllIncremental = Q(
    (s, dir) => {
      val ev = Tables.readEvents(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val segPath = scratchDir("graft_hll_seg").resolve("seg").toString
      graft.ops.Hll.writeSegments(
        ev.filter(col("user_id") % 2 === 0), Seq("day"), "user_id", segPath)
      graft.ops.Hll.writeSegments(
        ev.filter(col("user_id") % 2 =!= 0), Seq("day"), "user_id", segPath)
      graft.ops.Hll.estimateFromSegments(s, segPath, Seq("day"))
        .orderBy("day")
    },
    Some(s"WITH $hllCtes\n$hllSelect"))

  /** HLL set algebra ([[graft.ops.Hll.pairwiseOverlap]]): per-source-pair
    * distinct-TOKEN overlap by inclusion–exclusion — est(A) + est(B) −
    * est(A ∪ B) with the union estimated from the MERGED registers (the
    * sketch-union algebra), then a quantized-integer Jaccard. The oracle
    * replays the registers, both estimator applications (single-key and
    * pair-key — the identical float shape), and the integer
    * inclusion–exclusion + clamp + division chain.
    */
  private val qHllOverlap = Q(
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok"))
      // model-sized pin (|sources|·64 register rows): pairwiseOverlap
      // consumes the registers three ways (both pair sides + the single
      // estimates) — unpinned, each consumer re-runs the corpus token
      // explode + register aggregation (the before-plan scanned
      // documents 8×, 0 ReusedExchange; guide §2.4)
      val regs = graft.ops.Hll.registers(toks, Seq("source"), "tok")
        .localCheckpoint()
      graft.ops.Hll.pairwiseOverlap(regs, "source").orderBy("ka", "kb")
    },
    Some(s"""WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                         FROM documents),
            hh AS (SELECT source, ${md5LongSql("tok")} AS h FROM tk),
            rr AS (SELECT source, h % 64 AS reg, h // 64 AS rest FROM hh),
            rh AS (SELECT source, reg,
                          CASE WHEN rest = 0 THEN 55
                               ELSE 55 - length(bin(rest)) END AS rho
                   FROM rr),
            regs AS (SELECT source, reg, MAX(rho) AS maxrho FROM rh
                     GROUP BY source, reg),
            sagg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nreg,
                            CAST(SUM(CAST(1 AS BIGINT)
                                     << GREATEST(54 - maxrho, 0)) AS BIGINT)
                              AS t_present
                     FROM regs GROUP BY source),
            sfin AS (SELECT source, CAST(64 - nreg AS BIGINT) AS v_zero,
                            t_present + (64 - nreg) * 18014398509481984 AS t_scaled
                     FROM sagg),
            sest AS (SELECT source,
                            CAST(ROUND((CASE WHEN v_zero > 0
                                  AND (0.709 * 4096.0 * (18014398509481984.0
                                       / CAST(t_scaled AS DOUBLE))) <= 160.0
                                 THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
                                 ELSE 0.709 * 4096.0 * (18014398509481984.0
                                      / CAST(t_scaled AS DOUBLE)) END)
                                * 1000000.0) AS BIGINT) AS est_micro
                     FROM sfin),
            keys AS (SELECT DISTINCT source FROM regs),
            pairs AS (SELECT a.source AS ka, b.source AS kb
                      FROM keys a, keys b WHERE a.source < b.source),
            ur AS (SELECT ka, kb, reg, MAX(maxrho) AS maxrho FROM (
                     SELECT p.ka, p.kb, r.reg, r.maxrho
                     FROM pairs p JOIN regs r ON r.source = p.ka
                     UNION ALL
                     SELECT p.ka, p.kb, r.reg, r.maxrho
                     FROM pairs p JOIN regs r ON r.source = p.kb)
                   GROUP BY ka, kb, reg),
            uagg AS (SELECT ka, kb, CAST(COUNT(*) AS BIGINT) AS nreg,
                            CAST(SUM(CAST(1 AS BIGINT)
                                     << GREATEST(54 - maxrho, 0)) AS BIGINT)
                              AS t_present
                     FROM ur GROUP BY ka, kb),
            ufin AS (SELECT ka, kb, CAST(64 - nreg AS BIGINT) AS v_zero,
                            t_present + (64 - nreg) * 18014398509481984 AS t_scaled
                     FROM uagg),
            uest AS (SELECT ka, kb,
                            CAST(ROUND((CASE WHEN v_zero > 0
                                  AND (0.709 * 4096.0 * (18014398509481984.0
                                       / CAST(t_scaled AS DOUBLE))) <= 160.0
                                 THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
                                 ELSE 0.709 * 4096.0 * (18014398509481984.0
                                      / CAST(t_scaled AS DOUBLE)) END)
                                * 1000000.0) AS BIGINT) AS est_union_micro
                     FROM ufin),
            ie AS (SELECT u.ka, u.kb, a.est_micro AS est_a_micro,
                          b.est_micro AS est_b_micro, u.est_union_micro,
                          GREATEST(a.est_micro + b.est_micro - u.est_union_micro,
                                   0) AS est_inter_micro
                   FROM uest u JOIN sest a ON a.source = u.ka
                               JOIN sest b ON b.source = u.kb)
            SELECT ka, kb, est_a_micro, est_b_micro, est_union_micro,
                   est_inter_micro,
                   CAST(ROUND(CAST(est_inter_micro AS DOUBLE) * 1000000.0
                              / CAST(est_union_micro AS DOUBLE)) AS BIGINT)
                     AS jaccard_micro
            FROM ie ORDER BY ka, kb"""))

  /** Shared oracle for the KMV distinct sketch over events
    * ([[graft.ops.Kmv]]): distinct (event_type, user) values → 60-bit
    * md5 hash → per-key bottom-64 by (h, v) → count/kth-hash → the
    * (k−1)·2^60/(h_k+1) estimator in ONE float expression (exact-count
    * branch below k), micro-quantized — term-for-term the Scala shape.
    */
  private val kmvEventsSql: String =
    s"""WITH dv AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
                    FROM events),
       hh AS (SELECT event_type, v, ${md5LongSql("v")} AS h FROM dv),
       rk AS (SELECT event_type, h, v,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY h, v) AS rn
              FROM hh),
       bk AS (SELECT * FROM rk WHERE rn <= 64),
       agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_seen,
                      MAX(h) AS kth_h
               FROM bk GROUP BY 1)
       SELECT event_type, n_seen, kth_h,
              CAST(ROUND((CASE WHEN n_seen < 64 THEN CAST(n_seen AS DOUBLE)
                               ELSE 63.0 * 1152921504606846976.0
                                    / CAST(kth_h + 1 AS DOUBLE) END)
                         * 1000000.0) AS BIGINT) AS est_micro
       FROM agg ORDER BY event_type"""

  /** KMV bottom-k distinct sketch ([[graft.ops.Kmv.distinctSketch]]):
    * per-event-type distinct-user estimate. 150 distinct users per key
    * at the gate SF > k = 64, so this row exercises the ESTIMATOR
    * branch; [[qKmvSample]] pins the exact-below-k branch — both
    * branches sit under oracles on real fixtures.
    */
  private val qKmvDistinct = Q(
    (s, dir) =>
      graft.ops.Kmv.distinctSketch(
        Tables.readEvents(s, dir).select(col("event_type"), col("user_id")),
        Seq("event_type"), "user_id", k = 64)
        .orderBy("event_type"),
    Some(kmvEventsSql))

  /** The KMV sketch's SAMPLE surface ([[graft.ops.Kmv.bottomK]]): the 8
    * smallest-hash distinct tokens per source — a deterministic uniform
    * sample of each key's distinct set, hash-checked row for row
    * (sources have ~31 distinct tokens > 8 here, so ranks are a real
    * selection; n_seen < k in [[qKmvDistinct]]'s terms would be the
    * exact-count regime).
    */
  private val qKmvSample = Q(
    (s, dir) =>
      graft.ops.Kmv.bottomK(
        t(s, dir, "documents")
          .select(col("source"),
            explode(graft.text.TextAnalysis.tokens(col("text"))).as("tok")),
        Seq("source"), "tok", k = 8)
        .orderBy("source", "rnk"),
    Some(s"""WITH tk AS (SELECT DISTINCT source, tok FROM (
                        SELECT source, unnest(string_split(text, ' ')) AS tok
                        FROM documents)),
            hh AS (SELECT source, tok AS v, ${md5LongSql("tok")} AS h FROM tk),
            rk AS (SELECT source, h, v,
                          row_number() OVER (PARTITION BY source
                                             ORDER BY h, v) AS rnk
                   FROM hh)
            SELECT source, CAST(rnk AS INTEGER) AS rnk, h, v
            FROM rk WHERE rnk <= 8 ORDER BY source, rnk"""))

  /** The PERSISTED-segment path ([[graft.ops.Kmv.writeSegments]] →
    * [[graft.ops.Kmv.estimateFromSegments]]): the same per-event-type
    * estimate, built as two appended half-corpus segments (event parity)
    * and merged FROM DISK — bottom-k-of-union ≡ union-of-bottom-ks is
    * the selection algebra this row checks through a real round trip,
    * under the one-shot oracle verbatim.
    */
  private val qKmvIncremental = Q(
    (s, dir) => {
      val ev = Tables.readEvents(s, dir)
        .select(col("event_id"), col("event_type"), col("user_id"))
      val segPath = scratchDir("graft_kmv_seg").resolve("seg").toString
      graft.ops.Kmv.writeSegments(
        ev.filter(col("event_id") % 2 === 0), Seq("event_type"), "user_id",
        k = 64, segPath)
      graft.ops.Kmv.writeSegments(
        ev.filter(col("event_id") % 2 =!= 0), Seq("event_type"), "user_id",
        k = 64, segPath)
      graft.ops.Kmv.estimateFromSegments(s, segPath, Seq("event_type"), k = 64)
        .orderBy("event_type")
    },
    Some(kmvEventsSql))

  /** Chunk-granular exact substring dedup ([[graft.text.Chunker
    * .dedupChunks]]): every 16-token passage keeps only its global first
    * occurrence and documents are rebuilt from survivors. The oracle
    * replays chunking, 60-bit hashing, keep-first ranking, and ordered
    * reassembly — the whole chain, not just the pair decisions.
    */
  private val qChunkDedup = Q(
    (s, dir) =>
      graft.text.Chunker.dedupChunks(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 16)
        .orderBy("id"),
    Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
            c AS (SELECT doc_id, toks,
                         GREATEST(CAST(ceil((len(toks) - 16) / 16.0) AS INTEGER) + 1, 1) AS nc
                  FROM t),
            e AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS k FROM c),
            s AS (SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
                         array_to_string(toks[k*16 + 1 : k*16 + 16], ' ') AS chunk_text
                  FROM e),
            h AS (SELECT *, ${md5LongSql("chunk_text")} AS ch FROM s),
            r AS (SELECT *, row_number() OVER (PARTITION BY ch
                                               ORDER BY doc_id, chunk_idx) AS rn
                  FROM h),
            g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_chunks,
                         string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS text_dedup
                  FROM r WHERE rn = 1 GROUP BY doc_id)
            SELECT d.doc_id AS id, COALESCE(kept_chunks, 0) AS kept_chunks,
                   COALESCE(text_dedup, '') AS text_dedup
            FROM (SELECT doc_id FROM documents) d LEFT JOIN g USING (doc_id)
            ORDER BY id"""))

  /** Per-bucket dataset fingerprint
    * ([[graft.ops.Fingerprint.bucketFingerprints]]): 64 buckets keyed
    * by md5(o_orderkey), per-row 60-bit md5 over a canonical '|' join,
    * folded with overflow-free commutative bit_xor. One scan + one
    * partial-agg group-by regardless of table size.
    */
  private val qDatasetFingerprint = Q(
    (s, dir) =>
      graft.ops.Fingerprint.bucketFingerprints(t(s, dir, "orders"),
        "o_orderkey", Seq("o_orderkey", "o_custkey", "o_orderstatus"),
        nBuckets = 64)
        .orderBy("bucket"),
    Some(s"""SELECT ${md5LongSql("CAST(o_orderkey AS VARCHAR)")} % 64 AS bucket,
                    CAST(COUNT(*) AS BIGINT) AS n_rows,
                    bit_xor(${md5LongSql(
      "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), o_orderstatus)")})
                      AS fp
             FROM orders GROUP BY 1 ORDER BY bucket"""))

  /** Snapshot diff via fingerprint compare
    * ([[graft.ops.Fingerprint.snapshotDiff]]): snapshot B deterministically
    * mutates orders (status flipped to 'X' where key % 97 = 0, rows
    * deleted where key % 101 = 0); the diff surfaces exactly the buckets
    * holding a mutated key, from two scans + a bucket-count-sized join
    * — never a row-level cross-snapshot shuffle.
    */
  private val qSnapshotDiff = Q(
    (s, dir) => {
      val a = t(s, dir, "orders")
      val b = a.filter(col("o_orderkey") % 101 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 97 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
      graft.ops.Fingerprint.snapshotDiff(a, b, "o_orderkey",
        Seq("o_orderkey", "o_custkey", "o_orderstatus"), nBuckets = 512)
        .orderBy("bucket")
    },
    Some {
      def fold(src: String) =
        s"""SELECT ${md5LongSql("CAST(o_orderkey AS VARCHAR)")} % 512 AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   bit_xor(${md5LongSql(
          "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), o_orderstatus)")})
                     AS fp
            FROM $src GROUP BY 1"""
      s"""WITH snap_b AS (SELECT o_orderkey, o_custkey,
                                 CASE WHEN o_orderkey % 97 = 0 THEN 'X'
                                      ELSE o_orderstatus END AS o_orderstatus
                          FROM orders WHERE o_orderkey % 101 <> 0),
             fa AS (${fold("orders")}),
             fb AS (${fold("snap_b")})
             SELECT COALESCE(fa.bucket, fb.bucket) AS bucket,
                    COALESCE(fa.n_rows, 0) AS n_rows_a,
                    COALESCE(fb.n_rows, 0) AS n_rows_b,
                    COALESCE(fa.fp, 0) AS fp_a,
                    COALESCE(fb.fp, 0) AS fp_b
             FROM fa FULL OUTER JOIN fb ON fa.bucket = fb.bucket
             WHERE COALESCE(fa.n_rows, 0) <> COALESCE(fb.n_rows, 0)
                OR COALESCE(fa.fp, 0) <> COALESCE(fb.fp, 0)
             ORDER BY bucket"""
    })

  /** Exact-substring duplication profile
    * ([[graft.text.SubstrDedup.dupSpans]]): stride-16 32-char windows,
    * a window is duplicated iff its exact text recurs anywhere in the
    * corpus. Hash group-by on 60-bit span hashes (never pairwise, never
    * shuffling text); dup_ppm is exact integer parts-per-million.
    */
  private val qSubstrSpans = Q(
    (s, dir) =>
      graft.text.SubstrDedup.dupSpans(t(s, dir, "documents"),
        "doc_id", "text", window = 32, stride = 16)
        .orderBy("id"),
    Some(s"""WITH sh AS (
              SELECT doc_id AS id,
                     ${md5LongSql("substr(text, i + 1, 32)")} AS h
              FROM (SELECT doc_id, text,
                           unnest(range(0, len(text) - 32 + 1, 16)) AS i
                    FROM documents WHERE len(text) >= 32)),
            cnt AS (SELECT h, COUNT(*) AS c FROM sh GROUP BY h)
            SELECT id,
                   CAST(COUNT(*) AS BIGINT) AS total_shingles,
                   CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS dup_shingles,
                   CAST((1000000 * SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END))
                        // COUNT(*) AS BIGINT) AS dup_ppm
            FROM sh JOIN cnt USING (h)
            GROUP BY id ORDER BY id"""))

  /** Maximal duplicated character ranges
    * ([[graft.text.SubstrDedup.dupSpanRanges]]): the actionable
    * "delete bytes [a, b]" output of exact-substring dedup — duplicated
    * stride-16 window starts merged into maximal spans with the
    * islands-and-gaps window trick. The oracle replays the shingle
    * hashes, the global count, the lag-based island breaks (NULL lag →
    * new island), and the per-island min/max fold.
    */
  private val qDupSpanRanges = Q(
    (s, dir) =>
      graft.text.SubstrDedup.dupSpanRanges(t(s, dir, "documents"),
        "doc_id", "text", window = 32, stride = 16)
        .orderBy("id", "span_start"),
    Some(s"""WITH sh AS (
              SELECT doc_id AS id, i AS pos,
                     ${md5LongSql("substr(text, i + 1, 32)")} AS h
              FROM (SELECT doc_id, text,
                           unnest(range(0, len(text) - 32 + 1, 16)) AS i
                    FROM documents WHERE len(text) >= 32)),
            cnt AS (SELECT h, COUNT(*) AS c FROM sh GROUP BY h),
            dup AS (SELECT id, pos FROM sh JOIN cnt USING (h) WHERE c > 1),
            lg AS (SELECT id, pos,
                          lag(pos) OVER (PARTITION BY id ORDER BY pos) AS pp
                   FROM dup),
            br AS (SELECT id, pos,
                          CASE WHEN pos - pp <= 16 THEN 0 ELSE 1 END AS brk
                   FROM lg),
            isl AS (SELECT id, pos,
                           SUM(brk) OVER (PARTITION BY id ORDER BY pos
                                          ROWS UNBOUNDED PRECEDING) AS g
                    FROM br)
            SELECT id, CAST(MIN(pos) + 1 AS INT) AS span_start,
                   CAST(MAX(pos) + 32 AS INT) AS span_end,
                   CAST(COUNT(*) AS BIGINT) AS n_windows,
                   CAST(MAX(pos) + 32 - MIN(pos) AS INT) AS span_chars
            FROM isl GROUP BY id, g
            ORDER BY id, span_start"""))

  /** Span-removal APPLIER ([[graft.text.SubstrDedup.removeDupSpans]]):
    * the cleaned corpus itself is hash-checked — every doc's duplicated
    * ranges cut and the remainder stitched. Spark folds the sorted span
    * array with one `aggregate`; the oracle computes the SAME string
    * through the complementary formulation (kept segments between
    * spans via lag + ordered string_agg) — deliberately different
    * machinery, one answer, so a fencepost error in either stitch
    * surfaces as a text mismatch.
    */
  private val qDupSpansRemoved = Q(
    (s, dir) =>
      graft.text.SubstrDedup.removeDupSpans(t(s, dir, "documents"),
        "doc_id", "text", window = 32, stride = 16)
        .orderBy("id"),
    Some(s"""WITH sh AS (
              SELECT doc_id AS id, i AS pos,
                     ${md5LongSql("substr(text, i + 1, 32)")} AS h
              FROM (SELECT doc_id, text,
                           unnest(range(0, len(text) - 32 + 1, 16)) AS i
                    FROM documents WHERE len(text) >= 32)),
            cnt AS (SELECT h, COUNT(*) AS c FROM sh GROUP BY h),
            dup AS (SELECT id, pos FROM sh JOIN cnt USING (h) WHERE c > 1),
            lg AS (SELECT id, pos,
                          lag(pos) OVER (PARTITION BY id ORDER BY pos) AS pp
                   FROM dup),
            br AS (SELECT id, pos,
                          CASE WHEN pos - pp <= 16 THEN 0 ELSE 1 END AS brk
                   FROM lg),
            isl AS (SELECT id, pos,
                           SUM(brk) OVER (PARTITION BY id ORDER BY pos
                                          ROWS UNBOUNDED PRECEDING) AS g
                    FROM br),
            rg AS (SELECT id, MIN(pos) + 1 AS s0, MAX(pos) + 32 AS e0
                   FROM isl GROUP BY id, g),
            seg AS (SELECT id,
                           COALESCE(lag(e0) OVER (PARTITION BY id ORDER BY s0), 0) + 1 AS ss,
                           s0 - 1 AS se
                    FROM rg),
            tl AS (SELECT r.id, MAX(r.e0) + 1 AS ss, len(d.text) AS se
                   FROM rg r JOIN documents d ON d.doc_id = r.id
                   GROUP BY r.id, len(d.text)),
            pieces AS (SELECT * FROM seg UNION ALL SELECT * FROM tl),
            cl AS (SELECT p.id,
                          string_agg(substr(d.text, CAST(p.ss AS INT),
                                            CAST(p.se - p.ss + 1 AS INT)),
                                     '' ORDER BY p.ss) AS ct
                   FROM pieces p JOIN documents d ON d.doc_id = p.id
                   WHERE p.se >= p.ss GROUP BY p.id),
            outp AS (SELECT d.doc_id AS id, d.text,
                            CASE WHEN rg2.id IS NULL THEN d.text
                                 ELSE COALESCE(cl.ct, '') END AS clean_text
                     FROM documents d
                     LEFT JOIN (SELECT DISTINCT id FROM rg) rg2 ON rg2.id = d.doc_id
                     LEFT JOIN cl ON cl.id = d.doc_id)
            SELECT id, CAST(len(text) AS INT) AS orig_chars,
                   CAST(len(clean_text) AS INT) AS clean_chars,
                   CAST(len(text) - len(clean_text) AS INT) AS removed_chars,
                   clean_text
            FROM outp ORDER BY id"""))

  /** IVF probe over TRAINED centroids: [[graft.similarity.Kmeans
    * .updatedCentroids]] refines the md5-sampled seeds by one Lloyd
    * iteration before indexing/probing. The oracle replays sampling →
    * fixed-point recentering (means are ROUNDed doubles, so both engines
    * hold bit-identical centroids) → reassignment → probe ranking: the
    * full train-then-query chain is hash-checked end to end.
    */
  private val qAnnIvfTrained = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = graft.similarity.Kmeans.updatedCentroids(
        emb, graft.similarity.Ivf.centroids(emb, nLists = 8))
      val idx = graft.similarity.Ivf.buildIndex(emb, cents)
      graft.similarity.Ivf.topK(idx, emb.filter(col("vec_id") < 5), cents,
        k = 10, nProbe = 2)
        .select(col("qid"), col("rank"), col("cid"), col("cosine"))
        .orderBy("qid", "rank")
    },
    Some("""WITH cents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
              FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
              LIMIT 8),
            assign0 AS (
              SELECT cid, cvec, cell FROM (
                SELECT e.vec_id AS cid, e.embedding::DOUBLE[] AS cvec, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings e CROSS JOIN cents c)
              WHERE rn = 1),
            dims AS (
              SELECT cell, unnest(list_transform(generate_series(1, len(cvec)),
                       i -> {'pos': i - 1,
                             'fx': CAST(ROUND(cvec[i] * 1073741824.0) AS BIGINT)})) AS u
              FROM assign0),
            agg AS (SELECT cell, u.pos AS pos, COUNT(*) AS n, SUM(u.fx) AS sfx
                    FROM dims GROUP BY cell, u.pos),
            moved AS (SELECT cell, list(ROUND(CAST(sfx AS DOUBLE) / (n * 1073741824.0), 6)
                                        ORDER BY pos) AS cv
                      FROM agg GROUP BY cell),
            cents1 AS (SELECT c.cell, COALESCE(m.cv, c.cv) AS cv
                       FROM cents c LEFT JOIN moved m USING (cell)),
            assign1 AS (
              SELECT cid, cvec, cell FROM (
                SELECT e.vec_id AS cid, e.embedding::DOUBLE[] AS cvec, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings e CROSS JOIN cents1 c)
              WHERE rn = 1),
            qcells AS (
              SELECT qid, qvec, cell FROM (
                SELECT q.vec_id AS qid, q.embedding::DOUBLE[] AS qvec, c.cell,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY ROUND(list_dot_product(q.embedding::DOUBLE[], c.cv)
                                        / sqrt(list_dot_product(c.cv, c.cv)), 6) DESC,
                                  c.cell DESC) AS rn
                FROM embeddings q CROSS JOIN cents1 c
                WHERE q.vec_id < 5)
              WHERE rn <= 2),
            scored AS (
              SELECT qc.qid, a.cid,
                     ROUND(list_cosine_similarity(qc.qvec, a.cvec), 6) AS cosine
              FROM qcells qc JOIN assign1 a ON a.cell = qc.cell
              WHERE a.cid <> qc.qid),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY cosine DESC, cid) AS rk
              FROM scored)
            SELECT qid, CAST(rk AS INTEGER) AS rank, cid, cosine
            FROM ranked WHERE rk <= 10 ORDER BY qid, rank"""))

  /** BM25 lexical retrieval ([[graft.text.Bm25.topK]]): top-10 corpus docs
    * per seed doc. Scores accumulate as micro-unit longs (the fixed-point
    * discipline), so the rank — an integer sort — is hash-stable; every
    * double in the formula has the same expression shape on both sides,
    * and composite literals (k1+1, 1−b) are written as ARITHMETIC in the
    * oracle so both engines derive them from identical parses rather than
    * decimal re-parses.
    */
  /** BM25 against a PERSISTED index ([[graft.text.Bm25.writeBm25Index]]
    * → [[graft.text.Bm25.topKAgainstIndex]]): postings and document
    * frequencies live as parquet partitioned by token-hash bucket, doc
    * lengths and corpus constants as segment tables — the probe never
    * reads the corpus TEXT, and partition pruning limits the postings
    * read to the buckets the query terms hash to. Disk round-trip
    * inside the measured query; identical semantics to the from-raw
    * [[qBm25]] (spec-pinned), whose oracle is reused verbatim.
    */
  private lazy val qBm25Indexed = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val idxPath = scratchDir("graft_bm25_index").resolve("idx").toString
      graft.text.Bm25.writeBm25Index(docs, idxPath, nBuckets = 16)
      graft.text.Bm25.topKAgainstIndex(
          docs.filter(col("doc_id") < 3), idxPath, k = 10, nBuckets = 16)
        .orderBy("qid", "rank")
    },
    qBm25.oracle)

  /** STEADY-STATE BM25 probe ([[qBm25Indexed]]'s production split): the
    * postings/df/doclen/stats tables are built once per session/SF via
    * [[steadyIndex]]; the measured query reads only the query-term
    * buckets (partition-pruned) and never touches corpus text. Same
    * oracle verbatim.
    */
  private lazy val qBm25Steady = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val idxPath = steadyIndex("graft_bm25_steady", dir) { p =>
        graft.text.Bm25.writeBm25Index(docs, p, nBuckets = 16)
      }
      graft.text.Bm25.topKAgainstIndex(
          docs.filter(col("doc_id") < 3), idxPath, k = 10, nBuckets = 16)
        .orderBy("qid", "rank")
    },
    qBm25.oracle)

  private val qBm25 = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Bm25.topK(docs, docs.filter(col("doc_id") < 3), k = 10)
        .orderBy("qid", "rank")
    },
    Some("""WITH tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
                         FROM documents),
            tf AS (SELECT id, token, CAST(COUNT(*) AS BIGINT) AS tf
                   FROM tok GROUP BY id, token),
            dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
            dl AS (SELECT doc_id AS id, len(string_split(text, ' ')) AS dl FROM documents),
            st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot
                   FROM documents),
            qt AS (SELECT DISTINCT qid, token FROM
                     (SELECT doc_id AS qid, unnest(string_split(text, ' ')) AS token
                      FROM documents WHERE doc_id < 3)),
            c AS (SELECT qt.qid, tf.id,
                         CAST(ROUND(
                           ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
                             * (tf.tf * (1.2 + 1.0))
                             / (tf.tf + 1.2 * ((1.0 - 0.75)
                                + 0.75 * dl.dl / (CAST(st.tot AS DOUBLE) / st.n)))
                           * 1000000.0) AS BIGINT) AS cfx
                  FROM qt JOIN tf USING (token) JOIN dfq USING (token)
                       JOIN dl ON dl.id = tf.id CROSS JOIN st
                  WHERE qt.qid <> tf.id),
            agg AS (SELECT qid, id, CAST(SUM(cfx) AS BIGINT) AS sfx
                    FROM c GROUP BY qid, id),
            r AS (SELECT qid, id, sfx,
                         row_number() OVER (PARTITION BY qid
                                            ORDER BY sfx DESC, id) AS rk
                  FROM agg)
            SELECT qid, CAST(rk AS INTEGER) AS rank, id,
                   ROUND(sfx / 1000000.0, 6) AS score
            FROM r WHERE rk <= 10 ORDER BY qid, rank"""))

  /** Right-to-erasure on the persistent BM25 index
    * ([[graft.text.Bm25.deleteFromBm25Index]]): build the index over
    * the full corpus, ERASE doc_ids 100..199 (append-only tombstones +
    * negative df/stats segment rows — no rebuild, no read-modify-write)
    * and probe. The oracle is [[qBm25]]'s chain re-rooted on the
    * surviving corpus — so document frequencies, N and total length
    * must all reflect the erasure EXACTLY, not just the posting rows.
    */
  private lazy val qBm25Deleted = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val idxPath = scratchDir("graft_bm25_del").resolve("idx").toString
      graft.text.Bm25.writeBm25Index(docs, idxPath, nBuckets = 16)
      graft.text.Bm25.deleteFromBm25Index(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 200).select("doc_id"),
        idxPath, nBuckets = 16)
      graft.text.Bm25.topKAgainstIndex(
          docs.filter(col("doc_id") < 3), idxPath, k = 10, nBuckets = 16)
        .orderBy("qid", "rank")
    },
    qBm25.oracle.map { sql =>
      val inner = sql.trim.stripPrefix("WITH ").replace("FROM documents", "FROM live")
      "WITH live AS (SELECT * FROM documents WHERE doc_id < 100 OR doc_id >= 200), " + inner
    })

  /** STEADY-STATE right-to-erasure ([[qBm25Deleted]]'s production
    * split, the round-14 `*_steady` pattern): the full-corpus index
    * build is memoized per session/SF via [[steadyIndex]] (own prefix —
    * never shared with q_bm25_steady's un-erased index); the measured
    * query pays what an erasure request actually costs a production
    * user — the tombstone append (idempotent by construction: already-
    * tombstoned ids anti-join away, so repeated measured runs re-verify
    * but never double-subtract) plus the partition-pruned probe. Same
    * re-rooted oracle as the rebuild row.
    */
  private lazy val qBm25DeletedSteady = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val idxPath = steadyIndex("graft_bm25_del_steady", dir) { p =>
        graft.text.Bm25.writeBm25Index(docs, p, nBuckets = 16)
      }
      graft.text.Bm25.deleteFromBm25Index(
        docs.filter(col("doc_id") >= 100 && col("doc_id") < 200).select("doc_id"),
        idxPath, nBuckets = 16)
      graft.text.Bm25.topKAgainstIndex(
          docs.filter(col("doc_id") < 3), idxPath, k = 10, nBuckets = 16)
        .orderBy("qid", "rank")
    },
    qBm25Deleted.oracle)

  /** Hybrid retrieval ([[graft.similarity.Fusion.rrf]]): BM25 lexical
    * top-20 fused with embedding-cosine top-20 by reciprocal rank, re-cut
    * to top-10. The doc/vec id spaces coincide in the fixture, standing
    * in for a corpus with both text and embeddings. The oracle replays
    * BOTH retrieval chains and the fusion arithmetic — integer ranks,
    * fixed-order two-term reciprocal sum, rounded re-rank.
    */
  private val qHybridRrf = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.text.Bm25.topK(docs, docs.filter(col("doc_id") < 3), k = 20)
        .select(col("qid"), col("id"), col("rank"))
      val sem = graft.similarity.Ann.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 3), k = 20)
        .select(col("qid"), col("cid").as("id"), col("rank"))
      graft.similarity.Fusion.rrf(lex, sem, k = 10)
        .orderBy("qid", "rank")
    },
    Some("""WITH tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
                         FROM documents),
            tf AS (SELECT id, token, CAST(COUNT(*) AS BIGINT) AS tf
                   FROM tok GROUP BY id, token),
            dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
            dlen AS (SELECT doc_id AS id, len(string_split(text, ' ')) AS dl FROM documents),
            st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot
                   FROM documents),
            qt AS (SELECT DISTINCT qid, token FROM
                     (SELECT doc_id AS qid, unnest(string_split(text, ' ')) AS token
                      FROM documents WHERE doc_id < 3)),
            bmc AS (SELECT qt.qid, tf.id,
                           CAST(ROUND(
                             ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
                               * (tf.tf * (1.2 + 1.0))
                               / (tf.tf + 1.2 * ((1.0 - 0.75)
                                  + 0.75 * dlen.dl / (CAST(st.tot AS DOUBLE) / st.n)))
                             * 1000000.0) AS BIGINT) AS cfx
                    FROM qt JOIN tf USING (token) JOIN dfq USING (token)
                         JOIN dlen ON dlen.id = tf.id CROSS JOIN st
                    WHERE qt.qid <> tf.id),
            bma AS (SELECT qid, id, CAST(SUM(cfx) AS BIGINT) AS sfx
                    FROM bmc GROUP BY qid, id),
            lex AS (SELECT qid, id, rk AS rank_a FROM
                      (SELECT qid, id, row_number() OVER (PARTITION BY qid
                                       ORDER BY sfx DESC, id) AS rk FROM bma)
                    WHERE rk <= 20),
            aq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 3),
            ac AS (SELECT vec_id AS id, embedding::DOUBLE[] AS cv FROM embeddings),
            asc_ AS (SELECT qid, id, ROUND(list_cosine_similarity(qv, cv), 6) AS cosine
                     FROM aq CROSS JOIN ac WHERE id <> qid),
            sem AS (SELECT qid, id, rk AS rank_b FROM
                      (SELECT qid, id, row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, id) AS rk FROM asc_)
                    WHERE rk <= 20),
            fused AS (SELECT qid, id,
                             CAST(rank_a AS INTEGER) AS rank_a,
                             CAST(rank_b AS INTEGER) AS rank_b,
                             ROUND(COALESCE(1.0 / (60 + rank_a), 0.0)
                                 + COALESCE(1.0 / (60 + rank_b), 0.0), 6) AS rrf
                      FROM lex FULL OUTER JOIN sem USING (qid, id)),
            rr AS (SELECT *, row_number() OVER (PARTITION BY qid
                                                ORDER BY rrf DESC, id) AS rk
                   FROM fused)
            SELECT qid, CAST(rk AS INTEGER) AS rank, id, rrf, rank_a, rank_b
            FROM rr WHERE rk <= 10 ORDER BY qid, rank"""))

  /** Margin-based bitext mining ([[graft.similarity.BitextMine
    * .marginPairs]] over two [[graft.similarity.Ann.bruteForceTopK]]
    * retrievals): even vec_ids as side A, odd as side B, k = 4 both
    * ways, mutual pairs with ratio margin ≥ 1.05, best-per-query. The
    * oracle replays both retrieval chains, the micro-unit neighborhood
    * sums, the exact integer denominator, and the one-division margin
    * arithmetic operand for operand.
    */
  private val qBitextMine = Q(
    (s, dir) => {
      // vec_id < 100000 bounds both sides to the base corpus (a no-op
      // on the driver testdata, a constant 2 k-vector problem on the
      // replica-strided soak fixtures — the q_setsim_join convention):
      // brute-force retrieval is quadratic in side size BY DESIGN and
      // exists as the eval-scale baseline. The 100 TB path feeds
      // marginPairs with Ann.lshShuffledTopK tables instead — the
      // miner itself is retrieval-agnostic and |Q|·k-sized.
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 100000L)
      val a = emb.filter(col("vec_id") % 2 === 0)
      val b = emb.filter(col("vec_id") % 2 === 1)
      // ONE quadratic scoring pass shared by both retrieval directions
      // (cosine is bit-symmetric here: same per-element multiply order,
      // same norm product up to double-multiply commutativity), ranked
      // both ways, and the |Q|·k top-k tables PINNED before the miner.
      // The before-plan (plans/r17/q_bitext_mine_before.txt) scanned
      // embeddings 8×: two bruteForceTopK cross-join trees, each
      // consumed twice inside marginPairs (guide §2.4 / the
      // branch-recompute smell ExplainAudit flags); this form pays the
      // cross join once and scans embeddings twice (a side, b side).
      import graft.functions.VectorOps
      val av = a.select(col("vec_id").as("aid"), col("embedding").as("avec"))
        .withColumn("an", VectorOps.norm(col("avec")))
      val bv = b.select(col("vec_id").as("bid"), col("embedding").as("bvec"))
        .withColumn("bn", VectorOps.norm(col("bvec")))
      val scored = av.crossJoin(broadcast(bv))
        .filter(col("aid") =!= col("bid"))
        .select(col("aid"), col("bid"),
          round(VectorOps.cosineFromParts(
            VectorOps.dot(col("avec"), col("bvec")),
            col("an"), col("bn")), 6).as("cosine"))
      val wA = Window.partitionBy(col("aid")).orderBy(col("cosine").desc, col("bid"))
      val wB = Window.partitionBy(col("bid")).orderBy(col("cosine").desc, col("aid"))
      val ranked = scored
        .withColumn("rank", row_number().over(wA))
        .withColumn("brank", row_number().over(wB))
        .filter(col("rank") <= 4 || col("brank") <= 4)
        .localCheckpoint()
      val fwd = ranked.filter(col("rank") <= 4)
        .select(col("aid").as("qid"), col("bid").as("cid"), col("cosine"), col("rank"))
      val bwd = ranked.filter(col("brank") <= 4)
        .select(col("bid").as("qid"), col("aid").as("cid"), col("cosine"),
          col("brank").as("rank"))
      graft.similarity.BitextMine.marginPairs(
          fwd, bwd, k = 4, minMarginMicro = 1050000L)
        .orderBy("id_a")
    },
    Some("""WITH av AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v
                        FROM embeddings
                        WHERE vec_id % 2 = 0 AND vec_id < 100000),
            bv AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS v
                   FROM embeddings
                   WHERE vec_id % 2 = 1 AND vec_id < 100000),
            fs AS (SELECT a.qid, b.cid,
                          ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
                   FROM av a CROSS JOIN bv b),
            fr AS (SELECT *, row_number() OVER (PARTITION BY qid
                                                ORDER BY cosine DESC, cid) AS rk
                   FROM fs),
            f AS (SELECT qid AS id_a, cid AS id_b, cosine FROM fr WHERE rk <= 4),
            br AS (SELECT cid AS id_b, qid AS id_a, cosine,
                          row_number() OVER (PARTITION BY cid
                                             ORDER BY cosine DESC, qid) AS rk
                   FROM fs),
            bb AS (SELECT id_b, id_a, cosine FROM br WHERE rk <= 4),
            ax AS (SELECT id_a, SUM(CAST(ROUND(cosine * 1000000.0) AS BIGINT)) AS sa,
                          CAST(COUNT(*) AS BIGINT) AS na
                   FROM f GROUP BY 1),
            byt AS (SELECT id_b, SUM(CAST(ROUND(cosine * 1000000.0) AS BIGINT)) AS sb,
                           CAST(COUNT(*) AS BIGINT) AS nb
                    FROM bb GROUP BY 1),
            mu AS (SELECT f.* FROM f
                   WHERE EXISTS (SELECT 1 FROM bb
                                 WHERE bb.id_a = f.id_a AND bb.id_b = f.id_b)),
            mg AS (SELECT m.id_a, m.id_b, m.cosine,
                          ROUND(2.0 * m.cosine * 1000000.0 * ax.na * byt.nb
                                / (ax.sa * byt.nb + byt.sb * ax.na), 6) AS margin
                   FROM mu m
                   JOIN ax ON ax.id_a = m.id_a
                   JOIN byt ON byt.id_b = m.id_b
                   WHERE ax.sa * byt.nb + byt.sb * ax.na > 0),
            mm AS (SELECT id_a, id_b, cosine,
                          CAST(ROUND(margin * 1000000.0) AS BIGINT) AS margin_micro,
                          margin
                   FROM mg
                   WHERE CAST(ROUND(margin * 1000000.0) AS BIGINT) >= 1050000),
            fin AS (SELECT *, row_number() OVER (PARTITION BY id_a
                                ORDER BY margin_micro DESC, id_b) AS rn
                    FROM mm)
            SELECT id_a, id_b, cosine, margin_micro, margin
            FROM fin WHERE rn = 1 ORDER BY id_a"""))

  /** Incremental near-dup ([[graft.dedup.NearDup.minHashLshAgainstCorpus]]):
    * the first 250 docs as an ingest batch against the rest as history —
    * the production shape where a daily batch near-dedups against the
    * corpus without re-pairing history with itself. The oracle replays
    * both sides' signature chains, the seen-side bucket cap, and the
    * cross-join candidates end to end.
    */
  private val qDedupLshIncremental = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.NearDup.minHashLshAgainstCorpus(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 1000),
        "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
        .orderBy("new_id", "seen_id")
    },
    Some(s"""WITH nbase AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 250),
            sbase AS (SELECT doc_id AS id, text FROM documents
                      WHERE doc_id >= 250 AND doc_id < 1000),
            ${minHashXPairsCtes(bands = 4, rowsPerBand = 4, threshold = 0.9, maxBucket = 1000)}
            SELECT new_id, seen_id, jaccard FROM xpairs
            ORDER BY new_id, seen_id"""))

  /** The FILTER form of incremental near-dup
    * ([[graft.dedup.NearDup.dedupNearAgainstCorpus]]): the ingest batch
    * minus every document that near-duplicates history — what the
    * pipeline actually composes after exact dedup. Oracle: the
    * incremental pair chain, then NOT IN over its new_id set.
    */
  private val qDedupNearFilter = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.dedup.NearDup.dedupNearAgainstCorpus(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 1000),
        "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
    Some(s"""WITH nbase AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 250),
            sbase AS (SELECT doc_id AS id, text FROM documents
                      WHERE doc_id >= 250 AND doc_id < 1000),
            ${minHashXPairsCtes(bands = 4, rowsPerBand = 4, threshold = 0.9, maxBucket = 1000)}
            SELECT doc_id, source FROM documents
            WHERE doc_id < 250
              AND doc_id NOT IN (SELECT new_id FROM xpairs)
            ORDER BY doc_id"""))

  /** The PERSISTED-index path of incremental near-dup
    * ([[graft.dedup.NearDup.writeNearDupIndex]] →
    * [[graft.dedup.NearDup.minHashLshAgainstIndex]]): the seen corpus
    * is materialized to a parquet (id, sig, toks) index first and the
    * batch is checked against the STORED table — the steady-state
    * production loop, under the same oracle as the from-raw form
    * (identical semantics, spec-pinned, now gate-checked through a real
    * disk round-trip).
    */
  private val qDedupLshIndexed = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val idxPath = scratchDir("graft_lsh_index").resolve("idx").toString
      graft.dedup.NearDup.writeNearDupIndex(
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 1000),
        "doc_id", "text", numHashes = 16, idxPath)
      graft.dedup.NearDup.minHashLshAgainstIndex(
        docs.filter(col("doc_id") < 250), s.read.parquet(idxPath),
        "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
        .orderBy("new_id", "seen_id")
    },
    qDedupLshIncremental.oracle)

  /** Index erase without rebuild ([[graft.dedup.NearDup
    * .deleteFromNearDupIndex]] → [[graft.dedup.NearDup
    * .readNearDupIndex]]): the stored seen-index takes a takedown batch
    * (ids 300–399) as tombstones, and the ingest check runs against the
    * surviving rows — no re-hash of the seen corpus. The oracle is the
    * incremental chain with the seen side reduced to the live range, so
    * a tombstone leak (a deleted doc still producing candidate pairs or
    * still counting toward bucket caps) hash-fails.
    */
  private val qDedupLshErased = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val idxPath = scratchDir("graft_lsh_erase").resolve("idx").toString
      graft.dedup.NearDup.writeNearDupIndex(
        docs.filter(col("doc_id") >= 250 && col("doc_id") < 1000),
        "doc_id", "text", numHashes = 16, idxPath)
      graft.dedup.NearDup.deleteFromNearDupIndex(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
          .select(col("doc_id")),
        idxPath, "doc_id")
      graft.dedup.NearDup.minHashLshAgainstIndex(
        docs.filter(col("doc_id") < 250),
        graft.dedup.NearDup.readNearDupIndex(s, idxPath),
        "doc_id", "text", bands = 4, rowsPerBand = 4, threshold = 0.9)
        .orderBy("new_id", "seen_id")
    },
    Some(s"""WITH nbase AS (SELECT doc_id AS id, text FROM documents WHERE doc_id < 250),
            sbase AS (SELECT doc_id AS id, text FROM documents
                      WHERE doc_id >= 250 AND doc_id < 1000
                        AND NOT (doc_id >= 300 AND doc_id < 400)),
            ${minHashXPairsCtes(bands = 4, rowsPerBand = 4, threshold = 0.9, maxBucket = 1000)}
            SELECT new_id, seen_id, jaccard FROM xpairs
            ORDER BY new_id, seen_id"""))

  /** CDC merge ([[graft.ops.Merge.applyChanges]]): a synthetic change
    * batch over the orders snapshot — two competing updates per changed
    * key (seq decides), deletes, and key-space-shifted inserts. Price
    * mutations are pure additions (single IEEE op, bit-identical in any
    * engine) so the merged doubles hash without rounding.
    */
  private val qMergeUpsert = Q(
    (s, dir) => {
      val o = t(s, dir, "orders")
      val upd1 = o.filter(col("o_orderkey") % 100 < 10)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .withColumn("op", lit("U")).withColumn("seq", col("o_orderkey") * 10 + 1)
      val upd2 = o.filter(col("o_orderkey") % 100 < 10)
        .withColumn("o_totalprice", col("o_totalprice") + lit(2000.0))
        .withColumn("op", lit("U")).withColumn("seq", col("o_orderkey") * 10 + 2)
      val dels = o.filter(col("o_orderkey") % 100 >= 10 && col("o_orderkey") % 100 < 15)
        .withColumn("op", lit("D")).withColumn("seq", col("o_orderkey") * 10 + 1)
      val ins = o.filter(col("o_orderkey") % 100 >= 15 && col("o_orderkey") % 100 < 20)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
        .withColumn("op", lit("I")).withColumn("seq", col("o_orderkey") * 10 + 1)
      val changes = upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
      graft.ops.Merge.applyChanges(o, changes, Seq("o_orderkey"), "seq", "op")
        .orderBy("o_orderkey")
    },
    Some("""WITH ch AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
                     o_orderpriority, 'U' AS op, o_orderkey * 10 + 1 AS seq
              FROM orders WHERE o_orderkey % 100 < 10
              UNION ALL
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     o_totalprice + 2000.0, o_orderdate,
                     o_orderpriority, 'U', o_orderkey * 10 + 2
              FROM orders WHERE o_orderkey % 100 < 10
              UNION ALL
              SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     o_orderdate, o_orderpriority, 'D', o_orderkey * 10 + 1
              FROM orders WHERE o_orderkey % 100 >= 10 AND o_orderkey % 100 < 15
              UNION ALL
              SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
                     o_totalprice, o_orderdate, o_orderpriority, 'I',
                     (o_orderkey + 10000000) * 10 + 1
              FROM orders WHERE o_orderkey % 100 >= 15 AND o_orderkey % 100 < 20),
            winner AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                             ORDER BY seq DESC, op DESC) AS rn
                FROM ch)
              WHERE rn = 1)
            SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
                   o.o_orderdate, o.o_orderpriority
            FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM winner w
                              WHERE w.o_orderkey = o.o_orderkey)
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM winner WHERE op <> 'D'
            ORDER BY o_orderkey"""))

  /** SCD2 maintenance ([[graft.ops.Merge.scd2Apply]]): a two-generation
    * customer dimension (every 10th key carries a closed 2019 version)
    * takes a change batch touching every 7th key — close-outs, appended
    * versions, and a replayable full-history result keyed by
    * (c_custkey, valid_from).
    */
  private val qScd2Apply = Q(
    (s, dir) => {
      val c = t(s, dir, "customer")
      // scd2Apply re-reads customer six times across its branches, but
      // materializing dim + changes (localCheckpoint) does NOT win:
      // 9.9 -> 12.8 s at 100x on a cold 8 g heap, and a wash (4.19 vs
      // 4.36 s) warm at 48 g — wide dimension rows cost as much to pin
      // as the page-cached re-scans they save (the Bm25-tf negative-
      // result rule). Kept lazy on purpose.
      val dim = c
        .withColumn("valid_from", to_date(lit("2020-01-01")))
        .withColumn("valid_to", lit(null).cast(DateType))
        .unionByName(
          c.filter(col("c_custkey") % 10 === 0)
            .withColumn("c_acctbal", lit(0.0))
            .withColumn("valid_from", to_date(lit("2019-01-01")))
            .withColumn("valid_to", to_date(lit("2020-01-01"))))
      val changes = c.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + lit(500.0))
        .withColumn("eff", to_date(lit("2021-06-01")))
      graft.ops.Merge.scd2Apply(
          dim, changes, Seq("c_custkey"), "valid_from", "valid_to", "eff")
        .orderBy("c_custkey", "valid_from")
    },
    Some("""WITH dim AS (
              SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
                     DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
              FROM customer
              UNION ALL
              SELECT c_custkey, c_name, c_nationkey, CAST(0.0 AS DOUBLE),
                     c_mktsegment, DATE '2019-01-01', DATE '2020-01-01'
              FROM customer WHERE c_custkey % 10 = 0),
            ch AS (
              SELECT c_custkey, c_name, c_nationkey,
                     c_acctbal + 500.0 AS c_acctbal, c_mktsegment,
                     DATE '2021-06-01' AS eff
              FROM customer WHERE c_custkey % 7 = 0)
            SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
                   valid_from, valid_to
            FROM dim WHERE valid_to IS NOT NULL
            UNION ALL
            SELECT d.c_custkey, d.c_name, d.c_nationkey, d.c_acctbal,
                   d.c_mktsegment, d.valid_from, d.valid_to
            FROM dim d
            WHERE d.valid_to IS NULL
              AND NOT EXISTS (SELECT 1 FROM ch WHERE ch.c_custkey = d.c_custkey)
            UNION ALL
            SELECT d.c_custkey, d.c_name, d.c_nationkey, d.c_acctbal,
                   d.c_mktsegment, d.valid_from, ch.eff
            FROM dim d JOIN ch ON ch.c_custkey = d.c_custkey
            WHERE d.valid_to IS NULL
            UNION ALL
            SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
                   eff, CAST(NULL AS DATE)
            FROM ch
            ORDER BY c_custkey, valid_from"""))

  /** Per-source boilerplate removal ([[graft.text.Boilerplate]]): tokens
    * in ≥ 90% of a source's documents are stripped relative to that
    * source only; documents come back reassembled in original token
    * order, so the cleaned text itself is hash-checked, not just counts.
    * Threshold compare is exact integer arithmetic in both engines.
    */
  /** Exact phrase search ([[graft.text.PhraseSearch.phraseMatches]]):
    * every document containing the exact 3-token phrase
    * "table table merge" — the repeated token exercises the multi-slot
    * alignment (both 'table' slots must be witnessed at their own
    * offsets; a single 'table' next to 'merge' must NOT match). One
    * corpus explode + one (id, start) aggregation, no joins; the
    * oracle replays the positional-postings alignment with the same
    * count-distinct-slots rule.
    */
  private val qPhraseSearch = Q(
    (s, dir) =>
      graft.text.PhraseSearch.phraseMatches(
        t(s, dir, "documents"), "doc_id", "text",
        Seq("table", "table", "merge"))
        .select(col("doc_id"), col("n_matches"),
          col("first_pos").cast(LongType).as("first_pos"))
        .orderBy("doc_id"),
    Some("""WITH tk AS (SELECT doc_id AS id, string_split(text, ' ') AS t
                        FROM documents),
            tok AS (SELECT id, u.pos AS pos, u.token AS tok
                    FROM (SELECT id,
                                 unnest(list_transform(generate_series(1, len(t)),
                                        i -> {'pos': i, 'token': t[i]})) AS u
                          FROM tk)),
            ph AS (SELECT * FROM (VALUES (0, 'table'), (1, 'table'),
                                         (2, 'merge')) v(idx, pt)),
            starts AS (SELECT id, pos - idx AS p0, idx
                       FROM tok JOIN ph ON tok.tok = ph.pt
                       WHERE pos - idx >= 1),
            hits AS (SELECT id, p0 FROM starts
                     GROUP BY id, p0 HAVING COUNT(DISTINCT idx) = 3)
            SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
                   CAST(MIN(p0) AS BIGINT) AS first_pos
            FROM hits GROUP BY id ORDER BY doc_id"""))

  /** Multi-phrase sweep ([[graft.text.PhraseSearch.multiPhraseMatches]]):
    * three phrases — including the repeated-token one — located in ONE
    * corpus pass, the decontamination-sweep shape. The oracle extends
    * the positional alignment with the phrase id in the slot relation
    * and a per-phrase length check.
    */
  private val qMultiPhrase = Q(
    (s, dir) =>
      graft.text.PhraseSearch.multiPhraseMatches(
        t(s, dir, "documents"), "doc_id", "text",
        Seq(Seq("table", "table", "merge"),
            Seq("part", "filter"),
            Seq("customer", "join")))
        .select(col("doc_id"), col("phrase_id"), col("n_matches"),
          col("first_pos").cast(LongType).as("first_pos"))
        .orderBy("doc_id", "phrase_id"),
    Some("""WITH tk AS (SELECT doc_id AS id, string_split(text, ' ') AS t
                        FROM documents),
            tok AS (SELECT id, u.pos AS pos, u.token AS tok
                    FROM (SELECT id,
                                 unnest(list_transform(generate_series(1, len(t)),
                                        i -> {'pos': i, 'token': t[i]})) AS u
                          FROM tk)),
            ph AS (SELECT * FROM (VALUES
                     (0, 0, 'table'), (0, 1, 'table'), (0, 2, 'merge'),
                     (1, 0, 'part'), (1, 1, 'filter'),
                     (2, 0, 'customer'), (2, 1, 'join')) v(pid, idx, pt)),
            plen AS (SELECT * FROM (VALUES (0, 3), (1, 2), (2, 2)) v(pid, k)),
            starts AS (SELECT id, pid, pos - idx AS p0, idx
                       FROM tok JOIN ph ON tok.tok = ph.pt
                       WHERE pos - idx >= 1),
            hits AS (SELECT s.id, s.pid, s.p0
                     FROM starts s JOIN plen ON plen.pid = s.pid
                     GROUP BY s.id, s.pid, s.p0, plen.k
                     HAVING COUNT(DISTINCT s.idx) = plen.k)
            SELECT id AS doc_id, CAST(pid AS INT) AS phrase_id,
                   CAST(COUNT(*) AS BIGINT) AS n_matches,
                   CAST(MIN(p0) AS BIGINT) AS first_pos
            FROM hits GROUP BY id, pid ORDER BY doc_id, phrase_id"""))

  /** The round-12 broadcast-lookup sweep form at moderate phrase count:
    * 10 phrases (mixed lengths, shared tokens, repeated tokens, and
    * phrases with zero corpus hits) through ONE
    * [[graft.text.PhraseSearch.multiPhraseMatches]] pass. The oracle's
    * `ph`/`plen` VALUES are generated from the same Scala constant so
    * the two sides cannot drift; semantics identical to
    * [[qMultiPhrase]], but this row gates the slot lookup as DATA
    * (broadcast join) rather than as an expression tree — the form
    * whose plan stays constant-size at a 500-prompt decontamination
    * sweep (tools.MultiPhraseProbe, BASELINE.md round 12).
    */
  private val sweepPhrases: Seq[Seq[String]] = Seq(
    Seq("table", "hash"), Seq("table", "table", "merge"), Seq("a", "a"),
    Seq("big", "order"), Seq("part", "filter"), Seq("customer", "join"),
    Seq("merge", "scan"), Seq("hash", "join"), Seq("no_such_tok", "ever"),
    Seq("a", "table", "hash"))

  private val qMultiPhraseSweep = Q(
    (s, dir) =>
      graft.text.PhraseSearch.multiPhraseMatches(
        t(s, dir, "documents"), "doc_id", "text", sweepPhrases)
        .select(col("doc_id"), col("phrase_id"), col("n_matches"),
          col("first_pos").cast(LongType).as("first_pos"))
        .orderBy("doc_id", "phrase_id"), {
      val phVals = sweepPhrases.zipWithIndex.flatMap { case (p, pid) =>
        p.zipWithIndex.map { case (t, idx) => s"($pid, $idx, '$t')" }
      }.mkString(", ")
      val plenVals = sweepPhrases.zipWithIndex
        .map { case (p, pid) => s"($pid, ${p.size})" }.mkString(", ")
      Some(s"""WITH tk AS (SELECT doc_id AS id, string_split(text, ' ') AS t
                        FROM documents),
            tok AS (SELECT id, u.pos AS pos, u.token AS tok
                    FROM (SELECT id,
                                 unnest(list_transform(generate_series(1, len(t)),
                                        i -> {'pos': i, 'token': t[i]})) AS u
                          FROM tk)),
            ph AS (SELECT * FROM (VALUES $phVals) v(pid, idx, pt)),
            plen AS (SELECT * FROM (VALUES $plenVals) v(pid, k)),
            starts AS (SELECT id, pid, pos - idx AS p0, idx
                       FROM tok JOIN ph ON tok.tok = ph.pt
                       WHERE pos - idx >= 1),
            hits AS (SELECT s.id, s.pid, s.p0
                     FROM starts s JOIN plen ON plen.pid = s.pid
                     GROUP BY s.id, s.pid, s.p0, plen.k
                     HAVING COUNT(DISTINCT s.idx) = plen.k)
            SELECT id AS doc_id, CAST(pid AS INT) AS phrase_id,
                   CAST(COUNT(*) AS BIGINT) AS n_matches,
                   CAST(MIN(p0) AS BIGINT) AS first_pos
            FROM hits GROUP BY id, pid ORDER BY doc_id, phrase_id""")
    })

  private val qBoilerplate = Q(
    (s, dir) =>
      graft.text.Boilerplate.stripBoilerplate(
        t(s, dir, "documents"), "doc_id", "text", "source",
        fracNum = 9, fracDen = 10)
        .orderBy("id"),
    Some("""WITH d AS (SELECT doc_id AS id, source AS src,
                              string_split(text, ' ') AS tk
                       FROM documents),
            base AS (SELECT id, src, u.pos AS pos, u.token AS token
                     FROM (SELECT id, src,
                                  unnest(list_transform(generate_series(1, len(tk)),
                                         i -> {'pos': i, 'token': tk[i]})) AS u
                           FROM d)),
            sdocs AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_docs
                      FROM d GROUP BY src),
            dfreq AS (SELECT src, token, CAST(COUNT(DISTINCT id) AS BIGINT) AS df
                      FROM base GROUP BY src, token),
            boiler AS (SELECT src, token FROM dfreq JOIN sdocs USING (src)
                       WHERE df * 10 >= n_docs * 9),
            kept AS (SELECT b.* FROM base b WHERE NOT EXISTS
                       (SELECT 1 FROM boiler x
                        WHERE x.src = b.src AND x.token = b.token)),
            agg AS (SELECT id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
                           CAST(COUNT(*) AS BIGINT) AS n_kept
                    FROM kept GROUP BY id)
            SELECT d.id, COALESCE(agg.clean_text, '') AS clean_text,
                   COALESCE(agg.n_kept, 0) AS n_kept,
                   CAST(len(d.tk) AS BIGINT) - COALESCE(agg.n_kept, 0) AS n_dropped
            FROM d LEFT JOIN agg ON agg.id = d.id
            ORDER BY d.id"""))

  /** Corpus-trained bigram-LM quality score ([[graft.text.LmScore]]):
    * add-one-smoothed per-bigram log-probs, micro-unit-quantized before
    * the per-doc sum (exact in any merge order), mean reported ROUNDed.
    */
  private val qLmScore = Q(
    (s, dir) =>
      graft.text.LmScore.bigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id"),
    Some("""WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS tk
                       FROM documents),
            uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
                    FROM (SELECT unnest(tk) AS w1 FROM d) GROUP BY w1),
            v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vs FROM uni),
            pp AS (SELECT id, unnest(list_transform(generate_series(1, len(tk) - 1),
                                     i -> tk[i] || ' ' || tk[i+1])) AS pair
                   FROM d WHERE len(tk) >= 2),
            bi AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c12
                   FROM pp GROUP BY pair),
            scored AS (SELECT id,
                              CAST(ROUND(ln(CAST(c12 + 1 AS DOUBLE)
                                            / CAST(c1 + vs AS DOUBLE))
                                         * 1000000.0) AS BIGINT) AS q
                       FROM pp JOIN bi USING (pair)
                            JOIN uni ON uni.w1 = split_part(pair, ' ', 1)
                            CROSS JOIN v),
            agg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                           CAST(SUM(q) AS BIGINT) AS lp_micro
                    FROM scored GROUP BY id)
            SELECT d.id, COALESCE(agg.n_pairs, 0) AS n_pairs,
                   COALESCE(agg.lp_micro, 0) AS lp_micro,
                   CASE WHEN agg.n_pairs IS NULL THEN NULL
                        ELSE ROUND(agg.lp_micro / agg.n_pairs / 1000000.0, 6)
                   END AS avg_logprob
            FROM d LEFT JOIN agg ON agg.id = d.id
            ORDER BY d.id"""))

  /** Interpolated Kneser-Ney bigram scoring
    * ([[graft.text.LmScore.knBigramLogProb]]) — the KenLM smoothing
    * family: discounted observed mass plus the continuation-probability
    * backoff, every count exact, one fixed IEEE expression shape behind
    * the micro-unit log quantizer. The oracle rebuilds the bigram,
    * history, continuation and type tables and replays the formula
    * term-for-term.
    */
  private val qLmKneserNey = Q(
    (s, dir) =>
      graft.text.LmScore.knBigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id"),
    Some("""WITH d AS (SELECT doc_id AS id, string_split(text, ' ') AS tk
                       FROM documents),
            pp AS (SELECT id, unnest(list_transform(generate_series(1, len(tk) - 1),
                                     i -> tk[i] || ' ' || tk[i+1])) AS pair
                   FROM d WHERE len(tk) >= 2),
            bi AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c12,
                          split_part(pair, ' ', 1) AS w1,
                          split_part(pair, ' ', 2) AS w2
                   FROM pp GROUP BY pair),
            hist AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                            CAST(COUNT(*) AS BIGINT) AS n1fw
                     FROM bi GROUP BY w1),
            cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS nw2
                     FROM bi GROUP BY w2),
            nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bi),
            scored AS (SELECT pp.id,
                              CAST(ROUND(ln(
                                GREATEST(CAST(c12 AS DOUBLE) - 0.75, 0.0)
                                  / CAST(c1 AS DOUBLE)
                                + 0.75 * CAST(n1fw AS DOUBLE)
                                    / CAST(c1 AS DOUBLE)
                                    * (CAST(nw2 AS DOUBLE) / CAST(nb AS DOUBLE))
                              ) * 1000000.0) AS BIGINT) AS q
                       FROM pp JOIN bi USING (pair)
                            JOIN hist USING (w1) JOIN cont USING (w2)
                            CROSS JOIN nb),
            agg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                           CAST(SUM(q) AS BIGINT) AS lp_micro
                    FROM scored GROUP BY id)
            SELECT d.id, COALESCE(agg.n_pairs, 0) AS n_pairs,
                   COALESCE(agg.lp_micro, 0) AS lp_micro,
                   CASE WHEN agg.n_pairs IS NULL THEN NULL
                        ELSE ROUND(agg.lp_micro / agg.n_pairs / 1000000.0, 6)
                   END AS avg_logprob
            FROM d LEFT JOIN agg ON agg.id = d.id
            ORDER BY d.id"""))

  /** JSONL interchange round-trip ([[graft.ops.Tables.writeJsonl]] /
    * readJsonl): the corpus exported as gzip JSON-Lines — the format
    * tokenizer trainers and public corpus releases consume — re-imported
    * with the writer's explicit schema, value-identical to the parquet
    * original (the oracle reads the parquet directly, so any
    * serialization loss in the text/number round-trip fails the hash).
    */
  private val qJsonlRoundtrip = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val out = scratchDir("graft_jsonl").resolve("docs").toString
      graft.ops.Tables.writeJsonl(docs, out, compression = "gzip")
      graft.ops.Tables.readJsonl(s, out, docs.schema).orderBy("doc_id")
    },
    Some("""SELECT doc_id, text, lang, source, n_chars
            FROM documents ORDER BY doc_id"""))

  /** CSV interchange round-trip ([[graft.ops.Tables.writeCsv]] /
    * readCsv): the corpus exported as RFC-4180-quoted gzip CSV — the
    * tabular-sidecar interchange floor — re-imported with the writer's
    * explicit schema and dialect, value-identical to the parquet
    * original (same oracle trick as [[qJsonlRoundtrip]]: the oracle
    * reads the parquet directly, so any quoting/typing loss fails the
    * hash). Hostile content (embedded quotes/newlines/separators) is
    * spec-pinned in SourcesSpec — the synthetic fixture has none.
    */
  private val qCsvRoundtrip = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val out = scratchDir("graft_csv").resolve("docs").toString
      graft.ops.Tables.writeCsv(docs, out, compression = "gzip")
      graft.ops.Tables.readCsv(s, out, docs.schema).orderBy("doc_id")
    },
    qJsonlRoundtrip.oracle)

  /** ORC interchange round-trip ([[graft.ops.Tables.writeOrc]] /
    * readOrc) — the Hive-ecosystem columnar handoff, same read-back-
    * equals-table oracle.
    */
  private val qOrcRoundtrip = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val out = scratchDir("graft_orc").resolve("docs").toString
      graft.ops.Tables.writeOrc(docs, out)
      graft.ops.Tables.readOrc(s, out).orderBy("doc_id")
    },
    qJsonlRoundtrip.oracle)

  /** Pre-load data-quality gate ([[graft.ops.QualityAudit.audit]]):
    * per-column completeness + cardinality over orders in one agg pass.
    * `exact = true` here so DuckDB replays the distinct counts; the
    * production default is the HLL sketch form.
    */
  private val qQualityAudit = Q(
    (s, dir) =>
      graft.ops.QualityAudit.audit(
        t(s, dir, "orders"),
        Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"),
        exact = true)
        .orderBy("col_name"),
    Some("""WITH m AS (
              SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
                     CAST(COUNT(o_custkey) AS BIGINT) AS n_nonnull,
                     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
              FROM orders
              UNION ALL
              SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
                     CAST(COUNT(o_orderstatus) AS BIGINT),
                     CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
              FROM orders
              UNION ALL
              SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
                     CAST(COUNT(o_totalprice) AS BIGINT),
                     CAST(COUNT(DISTINCT o_totalprice) AS BIGINT)
              FROM orders
              UNION ALL
              SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
                     CAST(COUNT(o_orderpriority) AS BIGINT),
                     CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
              FROM orders)
            SELECT col_name, n_rows, n_nonnull, n_distinct,
                   ROUND(n_nonnull / CAST(n_rows AS DOUBLE), 6) AS completeness
            FROM m ORDER BY col_name"""))

  /** Multi-epoch training order ([[graft.ops.Sampling.epochOrder]]):
    * two independent md5 permutations of the documents corpus, keyed
    * (epoch, ord) — RNG-free, so the oracle replays the exact shuffle.
    */
  private val qEpochOrder = Q(
    (s, dir) =>
      graft.ops.Sampling.epochOrder(t(s, dir, "documents"), "doc_id", epochs = 2)
        .orderBy("epoch", "ord", "id"),
    Some(s"""WITH e AS (SELECT doc_id AS id, CAST(epoch AS INTEGER) AS epoch
                        FROM documents, generate_series(1, 2) AS g(epoch))
             SELECT epoch,
                    ${md5LongSql("epoch::VARCHAR || ':' || id::VARCHAR")} AS ord,
                    id
             FROM e ORDER BY epoch, ord, id"""))

  /** Conversion funnel ([[graft.ops.Funnel.firstTouch]]): view → click →
    * purchase within 7 days over the event log. Timestamps stay integer
    * epoch-micros end to end, so step anchoring, the strictly-after
    * chain, and the horizon cut all replay exactly.
    */
  private val qFunnel = Q(
    (s, dir) =>
      graft.ops.Funnel.firstTouch(
        Tables.readEvents(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), horizonMicros = 7L * 86400L * 1000000L)
        .orderBy("user_id"),
    Some("""WITH b AS (SELECT user_id, event_type AS et, epoch_us(ts) AS us
                       FROM events),
            s1 AS (SELECT user_id, MIN(us) AS t1 FROM b
                   WHERE et = 'view' GROUP BY user_id),
            s2 AS (SELECT s1.user_id, s1.t1,
                          MIN(CASE WHEN b.us > s1.t1
                                    AND b.us <= s1.t1 + 604800000000 THEN b.us END) AS t2
                   FROM s1 LEFT JOIN b ON b.user_id = s1.user_id AND b.et = 'click'
                   GROUP BY s1.user_id, s1.t1),
            s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
                          MIN(CASE WHEN b.us > s2.t2
                                    AND b.us <= s2.t1 + 604800000000 THEN b.us END) AS t3
                   FROM s2 LEFT JOIN b ON b.user_id = s2.user_id AND b.et = 'purchase'
                   GROUP BY s2.user_id, s2.t1, s2.t2)
            SELECT user_id, t1, t2, t3,
                   CAST(CASE WHEN t3 IS NOT NULL THEN 3
                             WHEN t2 IS NOT NULL THEN 2
                             ELSE 1 END AS INTEGER) AS depth,
                   (t3 IS NOT NULL) AS converted
            FROM s3 ORDER BY user_id"""))

  /** Rolling z-score anomaly flags ([[graft.ops.Anomaly.rollingZFlags]]):
    * per-user baseline of the 7 preceding events, 3σ threshold — the
    * flag compare is pure integer arithmetic on milli-quantized values,
    * so the anomaly set replays bit-for-bit.
    */
  private val qAnomaly = Q(
    (s, dir) =>
      graft.ops.Anomaly.rollingZFlags(
        Tables.readEvents(s, dir), "user_id", "ts", "event_id", "value",
        n = 7, k = 3, minPrior = 4)
        .orderBy("event_id"),
    Some("""WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                              CAST(ROUND(value * 1000) AS BIGINT) AS v_milli
                       FROM events),
            w AS (SELECT user_id, event_id, us, v_milli,
                         CAST(COUNT(v_milli) OVER win AS BIGINT) AS n_prior,
                         CAST(SUM(v_milli) OVER win AS BIGINT) AS s,
                         CAST(SUM(v_milli * v_milli) OVER win AS BIGINT) AS q
                  FROM v
                  WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
            SELECT user_id, event_id, us, v_milli, n_prior,
                   (n_prior >= 4
                    AND (n_prior - 1) * (n_prior * v_milli - s) * (n_prior * v_milli - s)
                        > 9 * n_prior * (n_prior * q - s * s)) AS is_anomaly
            FROM w ORDER BY event_id"""))

  /** Token-distribution entropy ([[graft.text.CorpusStats.tokenEntropy]]):
    * the compression-ratio quality signal, micro-quantized per distinct
    * token so the Σ cnt·ln(cnt) term is an exact integer both engines
    * reach identically.
    */
  private val qTokenEntropy = Q(
    (s, dir) =>
      graft.text.CorpusStats.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id"),
    Some("""WITH tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
                         FROM documents),
            c AS (SELECT id, token, CAST(COUNT(*) AS BIGINT) AS cnt
                  FROM tok GROUP BY id, token),
            agg AS (SELECT id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                           CAST(SUM(cnt * CAST(ROUND(ln(CAST(cnt AS DOUBLE))
                                                     * 1000000.0) AS BIGINT)) AS BIGINT)
                             AS ent_micro
                    FROM c GROUP BY id)
            SELECT id, n_tokens, ent_micro,
                   ROUND(ln(CAST(n_tokens AS DOUBLE))
                         - ent_micro / 1000000.0 / n_tokens, 6) AS entropy
            FROM agg ORDER BY id"""))

  /** Weekly cohort retention ([[graft.ops.Retention.cohortRetention]]):
    * signup-anchored cohorts, integer epoch-week grid (no calendar, no
    * timezone, no float bucketing), offsets 0–8.
    */
  private val qRetention = Q(
    (s, dir) =>
      graft.ops.Retention.cohortRetention(
        Tables.readEvents(s, dir), "user_id", "ts", "event_type",
        anchorType = "signup", maxWeeks = 8)
        .orderBy("cohort_week", "week_offset"),
    Some("""WITH b AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week,
                              event_type AS et
                       FROM events),
            anchors AS (SELECT user_id, MIN(week) AS cohort_week
                        FROM b WHERE et = 'signup' GROUP BY user_id),
            sizes AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
                      FROM anchors GROUP BY cohort_week),
            act AS (SELECT DISTINCT user_id, week FROM b),
            active AS (SELECT a.cohort_week,
                              CAST(act.week - a.cohort_week AS INTEGER) AS week_offset,
                              CAST(COUNT(DISTINCT act.user_id) AS BIGINT) AS n_active
                       FROM anchors a JOIN act ON act.user_id = a.user_id
                       WHERE act.week - a.cohort_week BETWEEN 0 AND 8
                       GROUP BY 1, 2)
            SELECT active.cohort_week, week_offset, cohort_size, n_active,
                   ROUND(n_active / CAST(cohort_size AS DOUBLE), 6) AS retention
            FROM active JOIN sizes USING (cohort_week)
            ORDER BY cohort_week, week_offset"""))

  /** Canonical text normalization
    * ([[graft.text.TextAnalysis.normalizeText]]): the corpus text is
    * already clean, so the fixture deterministically DIRTIES it first
    * (case noise, punctuation, padding — same construction in both
    * engines) and hash-checks that normalization restores a canonical
    * form. Regexes live in the Java∩RE2 dialect intersection.
    */
  private val qTextNormalize = Q(
    (s, dir) => {
      val dirty = concat(lit("  "), upper(col("text")), lit(" -- "),
        col("text"), lit("!!  "))
      val norm = graft.text.TextAnalysis.normalizeText(dirty)
      t(s, dir, "documents")
        .select(col("doc_id").as("id"), norm.as("norm_text"),
          when(norm === "", lit(0L))
            .otherwise(size(split(norm, " ")).cast("long")).as("n_tokens"))
        .orderBy("id")
    },
    Some("""SELECT doc_id AS id,
                   trim(regexp_replace(regexp_replace(
                     lower('  ' || upper(text) || ' -- ' || text || '!!  '),
                     '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
                   CASE WHEN trim(regexp_replace(regexp_replace(
                          lower('  ' || upper(text) || ' -- ' || text || '!!  '),
                          '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) = ''
                        THEN 0
                        ELSE CAST(len(string_split(trim(regexp_replace(regexp_replace(
                          lower('  ' || upper(text) || ' -- ' || text || '!!  '),
                          '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT)
                   END AS n_tokens
            FROM documents ORDER BY id"""))

  /** Funnel step summary ([[graft.ops.Funnel.summary]]): per-step user
    * counts and conversion shares off the q_funnel detail chain.
    */
  private val qFunnelSummary = Q(
    (s, dir) => {
      val detail = graft.ops.Funnel.firstTouch(
        Tables.readEvents(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), horizonMicros = 7L * 86400L * 1000000L)
      graft.ops.Funnel.summary(detail, Seq("view", "click", "purchase"))
        .orderBy("step")
    },
    Some("""WITH b AS (SELECT user_id, event_type AS et, epoch_us(ts) AS us
                       FROM events),
            s1 AS (SELECT user_id, MIN(us) AS t1 FROM b
                   WHERE et = 'view' GROUP BY user_id),
            s2 AS (SELECT s1.user_id, s1.t1,
                          MIN(CASE WHEN b.us > s1.t1
                                    AND b.us <= s1.t1 + 604800000000 THEN b.us END) AS t2
                   FROM s1 LEFT JOIN b ON b.user_id = s1.user_id AND b.et = 'click'
                   GROUP BY s1.user_id, s1.t1),
            s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
                          MIN(CASE WHEN b.us > s2.t2
                                    AND b.us <= s2.t1 + 604800000000 THEN b.us END) AS t3
                   FROM s2 LEFT JOIN b ON b.user_id = s2.user_id AND b.et = 'purchase'
                   GROUP BY s2.user_id, s2.t1, s2.t2),
            m AS (SELECT CAST(COUNT(t1) AS BIGINT) AS n1,
                         CAST(COUNT(t2) AS BIGINT) AS n2,
                         CAST(COUNT(t3) AS BIGINT) AS n3
                  FROM s3)
            SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name, n1 AS n_users,
                   ROUND(n1 / CAST(n1 AS DOUBLE), 6) AS frac_of_entry FROM m
            UNION ALL
            SELECT 2, 'click', n2, ROUND(n2 / CAST(n1 AS DOUBLE), 6) FROM m
            UNION ALL
            SELECT 3, 'purchase', n3, ROUND(n3 / CAST(n1 AS DOUBLE), 6) FROM m
            ORDER BY step"""))

  /** Incremental aggregate maintenance
    * ([[graft.ops.Merge.upsertAggregates]]): the lineitem rollup is built
    * as history (¾ of orders) then upserted with the new batch (¼) — and
    * must equal the one-shot aggregate the oracle computes directly.
    * Sums are over integral-valued doubles (exact in any merge order).
    */
  private val qAggUpsert = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val hist = li.filter(col("l_orderkey") % 4 =!= 0)
      val batch = li.filter(col("l_orderkey") % 4 === 0)
      val acc = hist.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("l_quantity"))
        .select("l_returnflag", "l_linestatus", "n_rows", "l_quantity")
      graft.ops.Merge.upsertAggregates(acc, batch,
          Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"), "n_rows")
        .withColumnRenamed("l_quantity", "sum_qty")
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   SUM(l_quantity) AS sum_qty
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** Contrastive negative sampling ([[graft.similarity.Negatives]]):
    * shared md5-bottom pool (50 of the corpus), per-query salted md5
    * pick of k=5, self/positive exclusion — the full chain replays in
    * SQL via the md5 bridge.
    */
  private val qNegSample = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pool = graft.similarity.Negatives.negativePool(emb, "vec_id", poolSize = 50)
      val positives = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), (col("vec_id") + 1).as("pid"))
      graft.similarity.Negatives.attachNegatives(positives, "qid", "pid", pool, k = 5)
        .orderBy("qid", "neg_rank")
    },
    Some(s"""WITH pool AS (SELECT vec_id AS cand_id FROM embeddings
                           ORDER BY ${md5LongSql("CAST(vec_id AS VARCHAR)")}, vec_id
                           LIMIT 50),
             pos AS (SELECT vec_id AS qid, vec_id + 1 AS pid
                     FROM embeddings WHERE vec_id < 20),
             q AS (SELECT DISTINCT qid FROM pos),
             cand AS (SELECT q.qid, p.cand_id FROM q CROSS JOIN pool p
                      WHERE p.cand_id <> q.qid
                        AND NOT EXISTS (SELECT 1 FROM pos
                                        WHERE pos.qid = q.qid
                                          AND pos.pid = p.cand_id)),
             r AS (SELECT qid, cand_id,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY ${md5LongSql(
                              "CAST(qid AS VARCHAR) || ':' || CAST(cand_id AS VARCHAR)")},
                              cand_id) AS rk
                   FROM cand)
             SELECT qid, cand_id AS neg_id, CAST(rk AS INTEGER) AS neg_rank
             FROM r WHERE rk <= 5 ORDER BY qid, neg_rank"""))

  /** Z-order clustering key ([[graft.ops.ZOrder.zValue2]]): Morton
    * interleave of (customer bucket, order-day bucket) — pure 64-bit
    * shift/mask arithmetic, replayed step-for-step by the oracle.
    */
  /** Small-file compaction plan ([[graft.ops.Compaction.planBins]]):
    * pseudo file listing derived from documents (20-doc files, bytes =
    * Σ n_chars per source), next-fit binned to 20 kB targets by a
    * per-partition running sum — deterministic metadata-only planning.
    */
  private val qCompactionPlan = Q(
    (s, dir) => {
      val files = t(s, dir, "documents")
        .groupBy(col("source"), expr("doc_id DIV 20").as("file_id"))
        .agg(sum(col("n_chars")).as("bytes"))
      graft.ops.Compaction.planBins(files, "source", "file_id", "bytes",
        targetBytes = 20000L)
        .orderBy("part", "bin")
    },
    Some("""WITH f AS (SELECT source AS part, doc_id // 20 AS file_id,
                              CAST(SUM(n_chars) AS BIGINT) AS bytes
                       FROM documents GROUP BY 1, 2),
            c AS (SELECT part, file_id, bytes,
                         COALESCE(SUM(bytes) OVER (
                           PARTITION BY part ORDER BY file_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cb
                  FROM f)
            SELECT part, CAST(cb // 20000 AS BIGINT) AS bin,
                   CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(bytes) AS BIGINT) AS total_bytes
            FROM c GROUP BY part, bin ORDER BY part, bin"""))

  /** Zone-map pruning effectiveness ([[graft.ops.ZoneMap]]): the same
    * three shipdate range probes replayed against a date-clustered
    * layout (30-day range buckets) vs a hash layout (md5(l_orderkey) %
    * 84) — the measured receipt that clustering is what makes min/max
    * stats prune. Zone maps are one group-by each; probing is
    * zone-map × BROADCAST probe list.
    */
  private val qZonePrune = Q(
    (s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem").select(
        expr("datediff(to_date(l_shipdate), date'1970-01-01')").as("day"),
        col("l_orderkey"))
      val probes = Seq((1, 9500, 9529), (2, 10000, 10089),
        (3, 10950, 11314)).toDF("probe_id", "lo", "hi")
      val zRange = graft.ops.ZoneMap.zones(
        li.withColumn("bucket", expr("day DIV 30")), "bucket", "day")
      val zHash = graft.ops.ZoneMap.zones(
        li.withColumn("bucket",
          graft.dedup.NearDup.md5Long(col("l_orderkey").cast("string")) % 84),
        "bucket", "day")
      graft.ops.ZoneMap.probeScanStats(zRange, probes)
        .withColumn("layout", lit("range"))
        .unionByName(graft.ops.ZoneMap.probeScanStats(zHash, probes)
          .withColumn("layout", lit("hash")))
        .select("layout", "probe_id", "buckets_scanned", "rows_scanned")
        .orderBy("layout", "probe_id")
    },
    Some(s"""WITH li AS (SELECT CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                                  AS day, l_orderkey
                         FROM lineitem),
            probes(probe_id, lo, hi) AS (VALUES (1, 9500, 9529),
                                                (2, 10000, 10089),
                                                (3, 10950, 11314)),
            zr AS (SELECT day // 30 AS bucket, MIN(day) AS min_v,
                          MAX(day) AS max_v, COUNT(*) AS n_rows
                   FROM li GROUP BY 1),
            zh AS (SELECT ${md5LongSql("CAST(l_orderkey AS VARCHAR)")} % 84
                            AS bucket, MIN(day) AS min_v,
                          MAX(day) AS max_v, COUNT(*) AS n_rows
                   FROM li GROUP BY 1),
            sr AS (SELECT 'range' AS layout, probe_id,
                          CAST(COUNT(*) AS BIGINT) AS buckets_scanned,
                          CAST(SUM(n_rows) AS BIGINT) AS rows_scanned
                   FROM zr, probes WHERE max_v >= lo AND min_v <= hi
                   GROUP BY probe_id),
            sh AS (SELECT 'hash' AS layout, probe_id,
                          CAST(COUNT(*) AS BIGINT) AS buckets_scanned,
                          CAST(SUM(n_rows) AS BIGINT) AS rows_scanned
                   FROM zh, probes WHERE max_v >= lo AND min_v <= hi
                   GROUP BY probe_id)
            SELECT * FROM sr UNION ALL SELECT * FROM sh
            ORDER BY layout, probe_id"""))

  private val qZOrder = Q(
    (s, dir) => {
      // NTZ → TIMESTAMP under the always-UTC session: identical micros grid
      val day = expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000") % 65536
      val z = graft.ops.ZOrder.zValue2(col("o_custkey") % 65536, day)
      t(s, dir, "orders")
        .select(col("o_orderkey"), z.as("z"))
        .orderBy("z", "o_orderkey")
    },
    Some("""WITH base AS (SELECT o_orderkey,
                                 o_custkey % 65536 AS a0,
                                 (epoch_us(o_orderdate) // 86400000000) % 65536 AS b0
                          FROM orders),
            s1 AS (SELECT o_orderkey,
                          (a0 | (a0 << 8)) & 16711935 AS a1,
                          (b0 | (b0 << 8)) & 16711935 AS b1 FROM base),
            s2 AS (SELECT o_orderkey,
                          (a1 | (a1 << 4)) & 252645135 AS a2,
                          (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
            s3 AS (SELECT o_orderkey,
                          (a2 | (a2 << 2)) & 858993459 AS a3,
                          (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
            s4 AS (SELECT o_orderkey,
                          (a3 | (a3 << 1)) & 1431655765 AS a4,
                          (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3)
            SELECT o_orderkey, CAST(a4 | (b4 << 1) AS BIGINT) AS z
            FROM s4 ORDER BY z, o_orderkey"""))

  /** Grouped Pearson correlation
    * ([[graft.ops.Normalize.groupCorrelation]]): quantity vs FLOORed
    * price per (returnflag, linestatus). Both inputs integral-valued →
    * the five raw sums are exact in any merge order; the closed form +
    * ROUND replays bit-for-bit (Spark's builtin `corr` co-moments would
    * not).
    */
  private val qCorrelation = Q(
    (s, dir) =>
      graft.ops.Normalize.groupCorrelation(
        t(s, dir, "lineitem")
          .withColumn("price_fl", floor(col("l_extendedprice")).cast("double")),
        Seq("l_returnflag", "l_linestatus"), "l_quantity", "price_fl")
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""WITH a AS (
              SELECT l_returnflag, l_linestatus,
                     CAST(COUNT(*) AS DOUBLE) AS n,
                     SUM(l_quantity) AS sx,
                     SUM(CAST(FLOOR(l_extendedprice) AS DOUBLE)) AS sy,
                     SUM(l_quantity * CAST(FLOOR(l_extendedprice) AS DOUBLE)) AS sxy,
                     SUM(l_quantity * l_quantity) AS sxx,
                     SUM(CAST(FLOOR(l_extendedprice) AS DOUBLE)
                         * CAST(FLOOR(l_extendedprice) AS DOUBLE)) AS syy
              FROM lineitem GROUP BY l_returnflag, l_linestatus)
            SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n_rows,
                   ROUND((n * sxy - sx * sy)
                         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                     AS pearson_r
            FROM a ORDER BY l_returnflag, l_linestatus"""))

  /** Source-vocabulary overlap
    * ([[graft.text.CorpusStats.sourceVocabOverlap]]): pairwise Jaccard
    * between the 20 sources' distinct-token sets — all-integer counts,
    * one ROUNDed ratio.
    */
  // ---------------------------------------------------------------------
  // URL curation (graft.text.UrlCurate) — crawl-corpus front door.
  // The documents fixture carries no URL column, so each query SYNTHESIZES
  // a deterministic messy URL per row from (doc_id, source) — schemes in
  // mixed case, www, default and explicit ports, tracking params,
  // fragments, trailing slashes — with the IDENTICAL construction
  // expression on the oracle side, then exercises the curation operator
  // on top. All canonicalization is scan-side Catalyst string ops.
  // ---------------------------------------------------------------------

  /** Messy-URL synthesis, Spark side. Keep in lockstep with [[urlSynthSql]]. */
  private def synthUrl: Column = {
    val id = col("doc_id")
    val scheme = when(id % 3 === 0, "http").when(id % 3 === 1, "HTTP").otherwise("https")
    val www = when(id % 2 === 0, "www.").otherwise("")
    val hostSuf = when(id % 5 === 0, ".example.co.uk").when(id % 5 === 1, ".example.com")
      .when(id % 5 === 2, ".site.org").when(id % 5 === 3, ".example.com")
      .otherwise(".pages.dev")
    val port = when(id % 7 === 0, ":80").when(id % 7 === 1, ":8080").otherwise("")
    val path = concat(lit("/p/"), (id % 5).cast(StringType),
      when(id % 4 === 0, "/").otherwise(""))
    val qry = when(id % 6 === 0, concat(lit("?utm_source=x&id="), (id % 7).cast(StringType)))
      .when(id % 6 === 1, concat(lit("?id="), (id % 7).cast(StringType)))
      .when(id % 6 === 2, lit("?b=2&a=1"))
      .when(id % 6 === 3, lit("?ref=tw"))
      .otherwise(lit(""))
    val frag = when(id % 8 === 0, "#top").otherwise("")
    concat(scheme, lit("://"), www, col("source"), hostSuf, port, path, qry, frag)
  }

  /** The same synthesis as [[synthUrl]], DuckDB side. */
  private val urlSynthSql: String =
    """syn AS (SELECT doc_id, source,
         (CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' ELSE 'https' END) ||
         '://' || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
         source ||
         (CASE doc_id % 5 WHEN 0 THEN '.example.co.uk' WHEN 1 THEN '.example.com'
                             WHEN 2 THEN '.site.org' WHEN 3 THEN '.example.com'
                             ELSE '.pages.dev' END) ||
         (CASE doc_id % 7 WHEN 0 THEN ':80' WHEN 1 THEN ':8080' ELSE '' END) ||
         '/p/' || CAST(doc_id % 5 AS VARCHAR) ||
         (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
         (CASE doc_id % 6 WHEN 0 THEN '?utm_source=x&id=' || CAST(doc_id % 7 AS VARCHAR)
                             WHEN 1 THEN '?id=' || CAST(doc_id % 7 AS VARCHAR)
                             WHEN 2 THEN '?b=2&a=1'
                             WHEN 3 THEN '?ref=tw' ELSE '' END) ||
         (CASE WHEN doc_id % 8 = 0 THEN '#top' ELSE '' END) AS url
       FROM documents)"""

  /** [[graft.text.UrlCurate.canonicalUrl]]'s normalization chain, DuckDB
    * side, producing `host` and `canonical_url` from `syn.url`.
    */
  private val urlCanonSql: String =
    """c1 AS (SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth
       FROM syn),
       c2 AS (SELECT *,
         regexp_replace(regexp_replace(lower(auth), ':[0-9]+$', ''), '^www\.', '') AS host,
         regexp_extract(auth, ':([0-9]+)$', 1) AS port,
         regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                        '/+$', '') AS path,
         regexp_extract(url, '\?([^#]*)', 1) AS qs
       FROM c1),
       c3 AS (SELECT doc_id, url, scheme, host, path,
         CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443')
              THEN '' ELSE ':' || port END AS portpart,
         list_sort(list_filter(string_split(qs, '&'),
           p -> p <> '' AND NOT (starts_with(split_part(p, '=', 1), 'utm_')
             OR split_part(p, '=', 1) IN ('fbclid','gclid','mc_cid','mc_eid','ref','igshid'))))
           AS kept
       FROM c2),
       canon AS (SELECT doc_id, url, host,
         CASE WHEN scheme = '' THEN NULL
              ELSE scheme || '://' || host || portpart || path ||
                   (CASE WHEN len(kept) = 0 THEN ''
                         ELSE '?' || array_to_string(kept, '&') END) END AS canonical_url
       FROM c3)"""

  /** URL canonicalization over the synthesized messy corpus: the full
    * normalization chain (case, www, default ports, tracking params,
    * param sort, fragments, trailing slashes) replayed step-for-step by
    * the oracle's regex/list pipeline.
    */
  private val qUrlCanonical = Q(
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("url", synthUrl)
        .select(col("doc_id"), col("url"),
          graft.text.UrlCurate.canonicalUrl(col("url")).as("canonical_url"))
        .orderBy("doc_id"),
    Some(s"""WITH $urlSynthSql,
            $urlCanonSql
            SELECT doc_id, url, canonical_url FROM canon ORDER BY doc_id"""))

  /** Per-domain cap ([[graft.text.UrlCurate.capPerDomain]]): registered
    * domains from the synthesized hosts (exercising the two-level-TLD
    * branch via `.example.co.uk`), at most 12 docs per domain kept by
    * md5-priority bottom-N — deterministic, partition-invariant,
    * replayed exactly by the oracle's window.
    */
  private val qDomainCap = Q(
    (s, dir) =>
      graft.text.UrlCurate.capPerDomain(
          t(s, dir, "documents").withColumn("url", synthUrl),
          "url", "doc_id", maxPerDomain = 12)
        .select(col("doc_id"), col("domain"))
        .orderBy("doc_id"), {
      val tldList = graft.text.UrlCurate.defaultTwoLevelTlds
        .map(t => s"'$t'").mkString(", ")
      Some(s"""WITH $urlSynthSql,
            $urlCanonSql,
            lab AS (SELECT doc_id, host, string_split(host, '.') AS labels FROM canon),
            dom AS (SELECT doc_id,
              CASE WHEN regexp_matches(host, '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$$')
                        OR len(labels) <= 2 THEN host
                   WHEN (labels[-2] || '.' || labels[-1]) IN ($tldList)
                        THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
                   ELSE labels[-2] || '.' || labels[-1] END AS domain
              FROM lab),
            ranked AS (SELECT doc_id, domain,
                              row_number() OVER (PARTITION BY domain
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                       FROM dom)
            SELECT doc_id, domain FROM ranked WHERE rn <= 12 ORDER BY doc_id""")
    })

  /** Canonical-URL dedup ([[graft.text.UrlCurate.dedupByCanonicalUrl]]):
    * a deliberately SMALL canonical space (scheme case, www, utm-only
    * query and trailing slash all collapse; path is doc_id % 3) so many
    * docs collide per canonical form and the min-id keep rule does real
    * work. Oracle: min doc_id per replayed canonical form.
    */
  private val qUrlDedup = Q(
    (s, dir) => {
      val id = col("doc_id")
      val simpleUrl = concat(
        when(id % 2 === 0, "http").otherwise("HTTP"), lit("://"),
        when(id % 3 === 0, "www.").otherwise(""),
        col("source"), lit(".example.com/p/"), (id % 3).cast(StringType),
        when(id % 4 === 0, "/").otherwise(""),
        when(id % 5 === 0, "?utm_source=x").otherwise(""))
      graft.text.UrlCurate.dedupByCanonicalUrl(
          t(s, dir, "documents").withColumn("url", simpleUrl)
            .select("doc_id", "source", "url"),
          "url", "doc_id")
        .select("doc_id", "url")
        .orderBy("doc_id")
    },
    Some("""WITH syn AS (SELECT doc_id, source,
              (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTP' END) || '://' ||
              (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
              source || '.example.com/p/' || CAST(doc_id % 3 AS VARCHAR) ||
              (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
              (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END) AS url
            FROM documents),
            canon AS (SELECT doc_id, url,
              'http://' || source || '.example.com/p/' || CAST(doc_id % 3 AS VARCHAR)
                AS canonical_url
            FROM syn),
            kept AS (SELECT canonical_url, MIN(doc_id) AS doc_id
                     FROM canon GROUP BY canonical_url)
            SELECT c.doc_id, c.url FROM canon c
            JOIN kept k ON k.doc_id = c.doc_id AND k.canonical_url = c.canonical_url
            ORDER BY c.doc_id"""))

  /** Paragraph-level exact dedup ([[graft.text.ParaDedup.dedupParagraphs]]):
    * the RefinedWeb-style "first occurrence of each exact paragraph wins,
    * corpus-wide" pass with stitched reassembly. The fixture has no
    * newlines, so the delimiter is the frequent token ` batch ` — blocks
    * are variable-length token runs and the pathologically self-similar
    * corpus makes the pass drop real volume. The oracle replays split →
    * md5Long keys → first-occurrence window → ordered string_agg, and the
    * reassembled `clean_text` itself is hash-checked.
    */
  private val qParaDedup = Q(
    (s, dir) =>
      graft.text.ParaDedup.dedupParagraphs(
          t(s, dir, "documents"), "doc_id", "text", delim = " batch ")
        .orderBy("id"),
    Some("""WITH ps AS (SELECT doc_id AS id, string_split(text, ' batch ') AS arr
                        FROM documents),
            p AS (SELECT id, arr, unnest(generate_series(1, len(arr))) AS i FROM ps),
            inst AS (SELECT id, CAST(i - 1 AS INTEGER) AS pidx, arr[i] AS para FROM p),
            keyed AS (SELECT id, pidx, para,
                             ('0x' || substring(md5(para), 1, 15))::BIGINT AS h
                      FROM inst WHERE len(para) >= 1),
            fk AS (SELECT id, pidx, para,
                          row_number() OVER (PARTITION BY h ORDER BY id, pidx) AS rn
                   FROM keyed),
            surv AS (SELECT id, pidx, para FROM fk WHERE rn = 1
                     UNION ALL
                     SELECT id, pidx, para FROM inst WHERE len(para) < 1),
            agg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                           string_agg(para, ' batch ' ORDER BY pidx) AS clean_text
                    FROM surv GROUP BY id)
            SELECT d.doc_id AS id,
                   CAST(len(string_split(d.text, ' batch ')) AS BIGINT) AS n_paras,
                   COALESCE(a.n_kept, 0) AS n_kept,
                   CAST(length(d.text) - length(COALESCE(a.clean_text, ''))
                        AS BIGINT) AS removed_chars,
                   COALESCE(a.clean_text, '') AS clean_text
            FROM documents d LEFT JOIN agg a ON a.id = d.doc_id
            ORDER BY id"""))

  /** The detection half ([[graft.text.ParaDedup.dupParagraphProfile]]):
    * which blocks repeat, how often, across how many documents, and which
    * instance the dedup keeps — the audit table a curation run reports
    * before committing the destructive pass.
    */
  private val qParaProfile = Q(
    (s, dir) =>
      graft.text.ParaDedup.dupParagraphProfile(
          t(s, dir, "documents"), "doc_id", "text", delim = " batch ")
        .orderBy("keep_id", "keep_pidx", "para_hash"),
    Some("""WITH ps AS (SELECT doc_id AS id, string_split(text, ' batch ') AS arr
                        FROM documents),
            p AS (SELECT id, arr, unnest(generate_series(1, len(arr))) AS i FROM ps),
            inst AS (SELECT id, CAST(i - 1 AS INTEGER) AS pidx, arr[i] AS para FROM p),
            keyed AS (SELECT id, pidx, para,
                             ('0x' || substring(md5(para), 1, 15))::BIGINT AS h
                      FROM inst WHERE len(para) >= 1),
            prof AS (SELECT h AS para_hash,
                            CAST(COUNT(*) AS BIGINT) AS n_copies,
                            CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
                            MIN(id * 1000000 + pidx) AS fk,
                            CAST(MAX(len(para)) AS INTEGER) AS para_chars
                     FROM keyed GROUP BY h HAVING COUNT(*) > 1)
            SELECT para_hash, n_copies, n_docs,
                   fk // 1000000 AS keep_id,
                   CAST(fk % 1000000 AS INTEGER) AS keep_pidx,
                   para_chars
            FROM prof
            ORDER BY keep_id, keep_pidx, para_hash"""))

  /** Shared CTE prefix for the linear-classifier oracles: hashed
    * token-count features (md5Long % dims + bias rows), weak labels
    * (y = +1 iff n_chars ≥ 300), and `iters` chained full-batch
    * perceptron rounds — w0 is the empty (zero) model; each round joins
    * the current model back to the features, finds `y·(w·x) <= 0` docs
    * and folds their `Σ y·x` into the next model. Every quantity is an
    * exact integer, so DuckDB replays TRAINING itself, not just scoring.
    */
  private def linearTrainCtes(dims: Int, iters: Int): String = {
    val feats =
      s"""feats AS (SELECT id, bucket, CAST(COUNT(*) AS BIGINT) AS x FROM (
            SELECT doc_id AS id,
                   ('0x' || substring(md5(tok), 1, 15))::BIGINT % $dims AS bucket
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents))
          GROUP BY id, bucket
          UNION ALL
          SELECT doc_id AS id, CAST(-1 AS BIGINT) AS bucket,
                 CAST(1 AS BIGINT) AS x FROM documents),
          labels AS (SELECT doc_id AS id,
                            CASE WHEN n_chars >= 300 THEN 1 ELSE -1 END AS y
                     FROM documents),
          w0 AS (SELECT CAST(NULL AS BIGINT) AS bucket,
                        CAST(NULL AS BIGINT) AS w WHERE 1 = 0)"""
    val rounds = (1 to iters).map { k =>
      val p = k - 1
      s"""m$k AS (SELECT f.id, CAST(SUM(f.x * COALESCE(w$p.w, 0)) AS BIGINT) AS s
            FROM feats f LEFT JOIN w$p USING (bucket) GROUP BY f.id),
          mis$k AS (SELECT l.id, l.y FROM labels l JOIN m$k USING (id)
                    WHERE l.y * m$k.s <= 0),
          d$k AS (SELECT f.bucket, CAST(SUM(l.y * f.x) AS BIGINT) AS dw
                  FROM mis$k l JOIN feats f USING (id) GROUP BY f.bucket),
          w$k AS (SELECT bucket, COALESCE(w$p.w, 0) + COALESCE(d$k.dw, 0) AS w
                  FROM w$p FULL JOIN d$k USING (bucket))"""
    }
    (feats +: rounds).mkString(",\n")
  }

  /** In-engine classifier TRAINING ([[graft.text.LinearModel]]): 3
    * full-batch perceptron rounds over hashed token features against the
    * length-derived weak label; the oracle replays every round and the
    * final weight table is hash-checked — the model itself is the result
    * set.
    */
  private val qLinearTrain = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = graft.text.LinearModel.hashedFeatures(docs, "doc_id", "text", dims = 16)
      val labels = docs.select(col("doc_id").as("id"),
        when(col("n_chars") >= 300, lit(1)).otherwise(lit(-1)).as("y"))
      graft.text.LinearModel.trainPerceptron(s, feats, labels, iters = 3)
        .orderBy("bucket")
    },
    Some(s"""WITH ${linearTrainCtes(dims = 16, iters = 3)}
            SELECT bucket, CAST(w AS BIGINT) AS w FROM w3 ORDER BY bucket"""))

  /** Scoring with the trained model ([[graft.text.LinearModel.score]]):
    * per-document integer margin and accept/reject decision, replayed by
    * the oracle through the same 3 training rounds plus one scoring
    * join — transitively re-checking training through every document's
    * margin.
    */
  private val qLinearScore = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = graft.text.LinearModel.hashedFeatures(docs, "doc_id", "text", dims = 16)
      val labels = docs.select(col("doc_id").as("id"),
        when(col("n_chars") >= 300, lit(1)).otherwise(lit(-1)).as("y"))
      val w = graft.text.LinearModel.trainPerceptron(s, feats, labels, iters = 3)
      graft.text.LinearModel.score(feats, w)
        .join(labels, "id")
        .withColumn("correct", (col("pred") === col("y")).cast("int"))
        .orderBy("id")
    },
    Some(s"""WITH ${linearTrainCtes(dims = 16, iters = 3)},
            sc AS (SELECT f.id, CAST(SUM(f.x * COALESCE(w3.w, 0)) AS BIGINT) AS margin
                   FROM feats f LEFT JOIN w3 USING (bucket) GROUP BY f.id)
            SELECT sc.id, sc.margin,
                   CASE WHEN sc.margin > 0 THEN 1 ELSE -1 END AS pred,
                   l.y,
                   CASE WHEN (CASE WHEN sc.margin > 0 THEN 1 ELSE -1 END) = l.y
                        THEN 1 ELSE 0 END AS correct
            FROM sc JOIN labels l USING (id)
            ORDER BY id"""))

  /** Shared CTE prefix for the logistic-regression oracles: the same
    * hashed features and weak labels as [[linearTrainCtes]], then
    * `iters` chained full-batch hard-sigmoid gradient rounds —
    * p_q = clamp(2e6 + z, 0, 4e6) in quarter-micro units, gradient
    * Σ (p_q − 4e6·y01)·x, update −sign·(|g·lrNum| // (4·N·lrDen))
    * (truncating division on the magnitude — the Pca `//` replay
    * convention). TRAINING itself is replayed, round for round.
    */
  private def logisticTrainCtes(dims: Int, iters: Int,
                                lrNum: Long, lrDen: Long): String = {
    val feats =
      s"""feats AS (SELECT id, bucket, CAST(COUNT(*) AS BIGINT) AS x FROM (
            SELECT doc_id AS id,
                   ('0x' || substring(md5(tok), 1, 15))::BIGINT % $dims AS bucket
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents))
          GROUP BY id, bucket
          UNION ALL
          SELECT doc_id AS id, CAST(-1 AS BIGINT) AS bucket,
                 CAST(1 AS BIGINT) AS x FROM documents),
          labels AS (SELECT doc_id AS id,
                            CASE WHEN n_chars >= 300 THEN 1 ELSE -1 END AS y
                     FROM documents),
          nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM labels),
          w0 AS (SELECT CAST(NULL AS BIGINT) AS bucket,
                        CAST(NULL AS BIGINT) AS w WHERE 1 = 0)"""
    val rounds = (1 to iters).map { k =>
      val p = k - 1
      s"""z$k AS (SELECT f.id, CAST(SUM(f.x * COALESCE(w$p.w, 0)) AS BIGINT) AS z
            FROM feats f LEFT JOIN w$p USING (bucket) GROUP BY f.id),
          e$k AS (SELECT l.id,
                         LEAST(GREATEST(2000000 + z.z, 0), 4000000)
                         - CASE WHEN l.y = 1 THEN 4000000 ELSE 0 END AS e_q
                  FROM labels l JOIN z$k z USING (id)),
          g$k AS (SELECT f.bucket, CAST(SUM(e.e_q * f.x) AS BIGINT) AS g
                  FROM e$k e JOIN feats f USING (id) GROUP BY f.bucket),
          d$k AS (SELECT bucket,
                         CASE WHEN g * $lrNum < 0
                              THEN -((-(g * $lrNum)) // (4 * nn.n * $lrDen))
                              ELSE (g * $lrNum) // (4 * nn.n * $lrDen)
                         END AS dw
                  FROM g$k CROSS JOIN nn),
          w$k AS (SELECT bucket, COALESCE(w$p.w, 0) - COALESCE(d$k.dw, 0) AS w
                  FROM w$p FULL JOIN d$k USING (bucket))"""
    }
    (feats +: rounds).mkString(",\n")
  }

  /** Hard-sigmoid logistic-regression TRAINING
    * ([[graft.text.LinearModel.trainLogistic]]): 3 full-batch
    * gradient-descent rounds at lr = 1/2 over the same hashed features /
    * weak labels as [[qLinearTrain]] — the micro-unit weight table is the
    * hash-checked result, every round replayed in the oracle including
    * the clamp, the q-unit error, and the truncating mean-gradient
    * division.
    */
  private val qLogisticTrain = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = graft.text.LinearModel.hashedFeatures(docs, "doc_id", "text", dims = 16)
      val labels = docs.select(col("doc_id").as("id"),
        when(col("n_chars") >= 300, lit(1)).otherwise(lit(-1)).as("y"))
      graft.text.LinearModel.trainLogistic(s, feats, labels, iters = 3)
        .orderBy("bucket")
    },
    Some(s"""WITH ${logisticTrainCtes(dims = 16, iters = 3, lrNum = 1, lrDen = 2)}
            SELECT bucket, CAST(w AS BIGINT) AS w FROM w3 ORDER BY bucket"""))

  /** Probability scoring under the trained logistic model
    * ([[graft.text.LinearModel.scoreLogistic]]): per-document micro-unit
    * margin, quarter-micro hard-sigmoid probability, and the p > 1/2
    * accept decision — the oracle replays training then the scoring
    * join, re-checking all three rounds through every document's
    * probability.
    */
  private val qLogisticScore = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = graft.text.LinearModel.hashedFeatures(docs, "doc_id", "text", dims = 16)
      val labels = docs.select(col("doc_id").as("id"),
        when(col("n_chars") >= 300, lit(1)).otherwise(lit(-1)).as("y"))
      val w = graft.text.LinearModel.trainLogistic(s, feats, labels, iters = 3)
      graft.text.LinearModel.scoreLogistic(feats, w)
        .join(labels, "id")
        .withColumn("correct", (col("pred") === col("y")).cast("int"))
        .orderBy("id")
    },
    Some(s"""WITH ${logisticTrainCtes(dims = 16, iters = 3, lrNum = 1, lrDen = 2)},
            sc AS (SELECT f.id, CAST(SUM(f.x * COALESCE(w3.w, 0)) AS BIGINT) AS z_micro
                   FROM feats f LEFT JOIN w3 USING (bucket) GROUP BY f.id),
            pp AS (SELECT id, z_micro,
                          LEAST(GREATEST(2000000 + z_micro, 0), 4000000) AS p_q
                   FROM sc)
            SELECT pp.id, pp.z_micro, pp.p_q,
                   CASE WHEN pp.p_q > 2000000 THEN 1 ELSE -1 END AS pred,
                   l.y,
                   CASE WHEN (CASE WHEN pp.p_q > 2000000 THEN 1 ELSE -1 END) = l.y
                        THEN 1 ELSE 0 END AS correct
            FROM pp JOIN labels l USING (id)
            ORDER BY id"""))

  /** Operating-point sweep over the trained logistic gate
    * ([[graft.text.LinearModel.thresholdSweep]]): confusion counts and
    * micro-quantized precision / recall / F1 at 7 acceptance
    * thresholds — the strictness-tier tuning table. The Spark side
    * buckets each doc ONCE (count of thresholds below its p_q) and
    * cumulates on the ≤2·(K+1)-row aggregate; the oracle states the
    * semantics directly as a thresholds×docs cross join — same counts,
    * transitively re-checking training and scoring.
    */
  private val qLogisticSweep = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = graft.text.LinearModel.hashedFeatures(docs, "doc_id", "text", dims = 16)
      val labels = docs.select(col("doc_id").as("id"),
        when(col("n_chars") >= 300, lit(1)).otherwise(lit(-1)).as("y"))
      val w = graft.text.LinearModel.trainLogistic(s, feats, labels, iters = 3)
      val scored = graft.text.LinearModel.scoreLogistic(feats, w)
      graft.text.LinearModel.thresholdSweep(scored, labels,
        Seq(500000L, 1000000L, 1500000L, 2000000L, 2500000L, 3000000L, 3500000L))
        .orderBy("thr_q")
    },
    Some(s"""WITH ${logisticTrainCtes(dims = 16, iters = 3, lrNum = 1, lrDen = 2)},
            sc AS (SELECT f.id, CAST(SUM(f.x * COALESCE(w3.w, 0)) AS BIGINT) AS z
                   FROM feats f LEFT JOIN w3 USING (bucket) GROUP BY f.id),
            pp AS (SELECT sc.id,
                          LEAST(GREATEST(2000000 + sc.z, 0), 4000000) AS p_q,
                          l.y
                   FROM sc JOIN labels l USING (id)),
            thr AS (SELECT * FROM (VALUES (500000), (1000000), (1500000),
                                          (2000000), (2500000), (3000000),
                                          (3500000)) AS v(thr_q)),
            agg AS (SELECT t.thr_q,
                           CAST(SUM(CASE WHEN p.p_q > t.thr_q AND p.y = 1
                                    THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                           CAST(SUM(CASE WHEN p.p_q > t.thr_q AND p.y = -1
                                    THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                           CAST(SUM(CASE WHEN p.p_q <= t.thr_q AND p.y = 1
                                    THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                           CAST(SUM(CASE WHEN p.p_q <= t.thr_q AND p.y = -1
                                    THEN 1 ELSE 0 END) AS BIGINT) AS tn
                    FROM pp p CROSS JOIN thr t GROUP BY t.thr_q)
            SELECT CAST(thr_q AS BIGINT) AS thr_q, tp, fp, fn, tn,
                   CASE WHEN tp + fp = 0 THEN 0
                        ELSE CAST(ROUND(CAST(tp AS DOUBLE) * 1000000.0
                                        / CAST(tp + fp AS DOUBLE)) AS BIGINT)
                   END AS precision_micro,
                   CASE WHEN tp + fn = 0 THEN 0
                        ELSE CAST(ROUND(CAST(tp AS DOUBLE) * 1000000.0
                                        / CAST(tp + fn AS DOUBLE)) AS BIGINT)
                   END AS recall_micro,
                   CASE WHEN 2 * tp + fp + fn = 0 THEN 0
                        ELSE CAST(ROUND(CAST(2 * tp AS DOUBLE) * 1000000.0
                                        / CAST(2 * tp + fp + fn AS DOUBLE)) AS BIGINT)
                   END AS f1_micro
            FROM agg ORDER BY thr_q"""))

  /** Shared CTE prefix for the Naive Bayes oracles: token-presence weak
    * label, per-class token counts, class stats, micro-unit smoothed
    * log-probs (the [[qLmScore]] quantizer convention).
    */
  private val nbCtes: String =
    """lab AS (SELECT doc_id AS id,
                      CASE WHEN text LIKE '%vector%' THEN 1 ELSE -1 END AS y
               FROM documents),
       tk AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
       tl AS (SELECT tk.tok, lab.y FROM tk JOIN lab USING (id)),
       pc AS (SELECT tok,
                     CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
                     CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
              FROM tl GROUP BY tok),
       st AS (SELECT CAST(SUM(c_pos) AS BIGINT) AS tot_pos,
                     CAST(SUM(c_neg) AS BIGINT) AS tot_neg,
                     CAST(COUNT(*) AS BIGINT) AS v
              FROM pc),
       model AS (SELECT tok AS token, c_pos, c_neg,
                        CAST(ROUND(ln(CAST(c_pos + 1 AS DOUBLE)
                                      / CAST(tot_pos + v AS DOUBLE))
                                   * 1000000.0) AS BIGINT) AS lp_pos_micro,
                        CAST(ROUND(ln(CAST(c_neg + 1 AS DOUBLE)
                                      / CAST(tot_neg + v AS DOUBLE))
                                   * 1000000.0) AS BIGINT) AS lp_neg_micro
                 FROM pc CROSS JOIN st),
       nd AS (SELECT CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                     CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
              FROM lab),
       priors AS (SELECT
                    CAST(ROUND(ln(CAST(n_pos AS DOUBLE)
                                  / CAST(n_pos + n_neg AS DOUBLE))
                               * 1000000.0) AS BIGINT) AS prior_pos,
                    CAST(ROUND(ln(CAST(n_neg AS DOUBLE)
                                  / CAST(n_pos + n_neg AS DOUBLE))
                               * 1000000.0) AS BIGINT) AS prior_neg
                  FROM nd)"""

  /** One-pass multinomial Naive Bayes TRAINING
    * ([[graft.text.NaiveBayes.trainMultinomial]]): the vocab-sized model
    * table itself is the hash-checked result — class-conditional counts
    * and micro-unit smoothed log-probs against the token-presence weak
    * label.
    */
  private val qNbTrain = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id").as("id"),
        when(col("text").contains("vector"), lit(1)).otherwise(lit(-1)).as("y"))
      graft.text.NaiveBayes.trainMultinomial(docs, labels, "doc_id", "text")
        .orderBy("token")
    },
    Some(s"""WITH $nbCtes
            SELECT token, c_pos, c_neg, lp_pos_micro, lp_neg_micro
            FROM model ORDER BY token"""))

  /** Naive Bayes SCORING ([[graft.text.NaiveBayes.score]]): per-document
    * integer class scores (prior + Σ token log-probs), prediction, label
    * and correctness — on this corpus the one-pass model reaches ~0.89
    * training accuracy where the full-batch perceptron oscillates at the
    * 0.764 trivial rate (see BASELINE.md round-12 classifier note).
    */
  private val qNbScore = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id").as("id"),
        when(col("text").contains("vector"), lit(1)).otherwise(lit(-1)).as("y"))
      // model-sized pins: unpinned, score's plan re-derives the whole
      // train chain per consumer — the before-plan scanned documents 12×
      // (plans/r17/q_nb_score_before.txt); pinned it is one corpus pass
      // per side (the Bpe/WordPiece state-pin discipline, guide §2.4)
      val m = graft.text.NaiveBayes.trainMultinomial(docs, labels, "doc_id", "text")
        .localCheckpoint()
      val st = graft.text.NaiveBayes.classStats(docs, labels, "doc_id", "text")
        .localCheckpoint()
      graft.text.NaiveBayes.score(docs, m, st, "doc_id", "text")
        .join(labels, "id")
        .withColumn("correct", (col("pred") === col("y")).cast("int"))
        .orderBy("id")
    },
    Some(s"""WITH $nbCtes,
            sc AS (SELECT tk.id,
                          CAST(SUM(lp_pos_micro) AS BIGINT) AS sum_pos,
                          CAST(SUM(lp_neg_micro) AS BIGINT) AS sum_neg
                   FROM tk JOIN model ON model.token = tk.tok
                   GROUP BY tk.id)
            SELECT sc.id,
                   priors.prior_pos + sc.sum_pos AS s_pos_micro,
                   priors.prior_neg + sc.sum_neg AS s_neg_micro,
                   CASE WHEN priors.prior_pos + sc.sum_pos
                             > priors.prior_neg + sc.sum_neg
                        THEN 1 ELSE -1 END AS pred,
                   lab.y,
                   CASE WHEN (CASE WHEN priors.prior_pos + sc.sum_pos
                                        > priors.prior_neg + sc.sum_neg
                                   THEN 1 ELSE -1 END) = lab.y
                        THEN 1 ELSE 0 END AS correct
            FROM sc JOIN lab USING (id) CROSS JOIN priors
            ORDER BY id"""))

  /** Naive Bayes scoring on HELD-OUT text ([[graft.text.NaiveBayes
    * .score]] over documents guaranteed to contain a token the model
    * never saw): every document is augmented with the synthetic token
    * `qz<doc_id>`, absent from the training vocabulary, so the
    * unseen-token smoothing-floor path (coalesce to the classStats
    * floors) is exercised for every row — and the oracle replays it
    * with the same LEFT JOIN + COALESCE, transitively pinning the
    * floor/classStats consistency (V, class totals) the inner-join
    * qNbScore oracle cannot see.
    */
  private val qNbScoreHoldout = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id").as("id"),
        when(col("text").contains("vector"), lit(1)).otherwise(lit(-1)).as("y"))
      // same model-sized pins as q_nb_score: the before-plan scanned
      // documents 11× (plans/r17/q_nb_score_holdout_before.txt)
      val m = graft.text.NaiveBayes.trainMultinomial(docs, labels, "doc_id", "text")
        .localCheckpoint()
      val st = graft.text.NaiveBayes.classStats(docs, labels, "doc_id", "text")
        .localCheckpoint()
      val held = docs.select(col("doc_id"),
        concat(col("text"), lit(" qz"), col("doc_id").cast(StringType)).as("text"))
      graft.text.NaiveBayes.score(held, m, st, "doc_id", "text")
        .orderBy("id")
    },
    Some(s"""WITH $nbCtes,
            fl AS (SELECT
                     CAST(ROUND(ln(1.0 / CAST(tot_pos + v AS DOUBLE))
                                * 1000000.0) AS BIGINT) AS floor_pos,
                     CAST(ROUND(ln(1.0 / CAST(tot_neg + v AS DOUBLE))
                                * 1000000.0) AS BIGINT) AS floor_neg
                   FROM st),
            tk2 AS (SELECT doc_id AS id,
                           unnest(string_split(text || ' qz' || CAST(doc_id AS VARCHAR), ' ')) AS tok
                    FROM documents),
            sc AS (SELECT tk2.id,
                          CAST(SUM(COALESCE(lp_pos_micro, floor_pos)) AS BIGINT) AS sum_pos,
                          CAST(SUM(COALESCE(lp_neg_micro, floor_neg)) AS BIGINT) AS sum_neg
                   FROM tk2 LEFT JOIN model ON model.token = tk2.tok
                   CROSS JOIN fl
                   GROUP BY tk2.id)
            SELECT sc.id,
                   priors.prior_pos + sc.sum_pos AS s_pos_micro,
                   priors.prior_neg + sc.sum_neg AS s_neg_micro,
                   CASE WHEN priors.prior_pos + sc.sum_pos
                             > priors.prior_neg + sc.sum_neg
                        THEN 1 ELSE -1 END AS pred
            FROM sc CROSS JOIN priors
            ORDER BY id"""))

  /** Shared CTE chain for the curation-funnel oracles: the corpus plus 30
    * planted exact-text twins (unique URLs, +10000 ids), then the five
    * stages replayed — closed-form canonical (the synth URL is already
    * canonical), min-id URL/text dedup, the [[qualitySql]] gate at 0.6,
    * trigram decontamination vs the doc_id ≥ 480 benchmark slice at
    * minHits 5, and the 500-token md5-priority budget per source.
    */
  private val curationCtes: String =
    s"""aug AS (SELECT doc_id, source, text,
              'http://example.com/p/' ||
              (CASE WHEN doc_id >= 10000 THEN 'x' || CAST(doc_id AS VARCHAR)
                    ELSE CAST(doc_id % 300 AS VARCHAR) END) AS canon
            FROM (SELECT doc_id, source, text FROM documents
                  UNION ALL
                  SELECT doc_id + 10000, source, text FROM documents
                  WHERE doc_id < 30)),
       k1 AS (SELECT canon, MIN(doc_id) AS kid FROM aug GROUP BY canon),
       drop1 AS (SELECT doc_id, 1 AS stage_order, 'url_dup' AS drop_stage
                 FROM aug JOIN k1 USING (canon) WHERE doc_id <> kid),
       s1 AS (SELECT aug.doc_id, aug.source, aug.text
              FROM aug JOIN k1 ON k1.canon = aug.canon AND k1.kid = aug.doc_id),
       h2 AS (SELECT doc_id, source, text, ${md5LongSql("text")} AS h FROM s1),
       k2 AS (SELECT h, MIN(doc_id) AS kid FROM h2 GROUP BY h),
       drop2 AS (SELECT doc_id, 2 AS stage_order, 'exact_dup' AS drop_stage
                 FROM h2 JOIN k2 USING (h) WHERE doc_id <> kid),
       s2 AS (SELECT h2.doc_id, h2.source, h2.text
              FROM h2 JOIN k2 ON k2.h = h2.h AND k2.kid = h2.doc_id),
       q3 AS (SELECT doc_id, source, text, ${qualitySql("text")} AS q FROM s2),
       drop3 AS (SELECT doc_id, 3 AS stage_order, 'quality' AS drop_stage
                 FROM q3 WHERE q < 0.6),
       s3 AS (SELECT doc_id, source, text FROM q3 WHERE q >= 0.6),
       bgr AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
               FROM (SELECT string_split(text, ' ') AS toks FROM documents
                     WHERE doc_id >= 480)
               WHERE len(toks) >= 3),
       beg AS (SELECT DISTINCT ${md5LongSql("g")} AS gh FROM bgr),
       tgr AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
               FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM s3)
               WHERE len(toks) >= 3),
       tgh AS (SELECT DISTINCT doc_id, ${md5LongSql("g")} AS gh FROM tgr),
       hits AS (SELECT tgh.doc_id, COUNT(*) AS n
                FROM tgh JOIN beg USING (gh) GROUP BY tgh.doc_id),
       drop4 AS (SELECT s3.doc_id, 4 AS stage_order, 'contaminated' AS drop_stage
                 FROM s3 JOIN hits USING (doc_id) WHERE n >= 5),
       s4 AS (SELECT s3.doc_id, s3.source, s3.text FROM s3
              LEFT JOIN hits USING (doc_id) WHERE COALESCE(n, 0) < 5),
       cum AS (SELECT doc_id, source,
                      SUM(len(string_split(text, ' '))) OVER (
                        PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS c
               FROM s4),
       drop5 AS (SELECT doc_id, 5 AS stage_order, 'budget' AS drop_stage
                 FROM cum WHERE c > 500),
       kept AS (SELECT doc_id, 6 AS stage_order, 'kept' AS drop_stage
                FROM cum WHERE c <= 500),
       disp AS (SELECT * FROM drop1 UNION ALL SELECT * FROM drop2
                UNION ALL SELECT * FROM drop3 UNION ALL SELECT * FROM drop4
                UNION ALL SELECT * FROM drop5 UNION ALL SELECT * FROM kept)"""

  /** Spark side of the curation-funnel fixture: corpus + 30 planted
    * exact-text twins with unique URLs, synth URL colliding mod 300.
    */
  private def curationInput(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = t(s, dir, "documents")
    val aug = base.select(col("doc_id"), col("source"), col("text"))
      .unionByName(base.filter(col("doc_id") < 30)
        .select((col("doc_id") + 10000L).as("doc_id"), col("source"), col("text")))
      .withColumn("url", concat(lit("http://example.com/p/"),
        when(col("doc_id") >= 10000L, concat(lit("x"), col("doc_id").cast(StringType)))
          .otherwise((col("doc_id") % 300).cast(StringType))))
    (aug, base.filter(col("doc_id") >= 480))
  }

  /** Per-document curation disposition
    * ([[graft.pipeline.Curation.disposition]]): every input document
    * attributed to the FIRST stage that rejected it (or kept) across the
    * five-stage C4/CCNet-order funnel — URL dedup, exact-text dedup
    * (the planted twins die here), quality gate, benchmark
    * decontamination (the benchmark slice itself is crawled into the
    * corpus and correctly removed), per-source token budget. The oracle
    * replays all five stages end-to-end.
    */
  private val qCurationDisposition = Q(
    (s, dir) => {
      val (aug, bench) = curationInput(s, dir)
      graft.pipeline.Curation.disposition(aug, bench,
          "url", "doc_id", "text", "source",
          minQuality = 0.6, ngramN = 3, minHits = 5L, budgetPerSource = 500L)
        .orderBy("id")
    },
    Some(s"""WITH $curationCtes
            SELECT doc_id AS id, stage_order, drop_stage FROM disp
            ORDER BY id"""))

  /** [[qCurationDisposition]] through the BLOOM decontamination stage
    * ([[graft.text.Decontaminate.bloomFlagContaminated]] swapped in via
    * `bloomDecontam = true`): the 100 TB shape where the benchmark gram
    * table outgrows the exchange and only Bloom-surviving grams reach
    * the confirm join. The prefilter is exact-confirmed, so the oracle
    * is qCurationDisposition's, verbatim — a false positive leaking
    * into a disposition fails the gate.
    */
  private val qCurationBloom = Q(
    (s, dir) => {
      val (aug, bench) = curationInput(s, dir)
      graft.pipeline.Curation.disposition(aug, bench,
          "url", "doc_id", "text", "source",
          minQuality = 0.6, ngramN = 3, minHits = 5L, budgetPerSource = 500L,
          bloomDecontam = true)
        .orderBy("id")
    },
    Some(s"""WITH $curationCtes
            SELECT doc_id AS id, stage_order, drop_stage FROM disp
            ORDER BY id"""))

  /** The attrition report ([[graft.pipeline.Curation.funnel]]): stage
    * counts that reconcile to the input total by construction — the
    * "where did my 100 TB go" table.
    */
  private val qCurationFunnel = Q(
    (s, dir) => {
      val (aug, bench) = curationInput(s, dir)
      graft.pipeline.Curation.funnel(
        graft.pipeline.Curation.disposition(aug, bench,
          "url", "doc_id", "text", "source",
          minQuality = 0.6, ngramN = 3, minHits = 5L, budgetPerSource = 500L))
        .orderBy("stage_order")
    },
    Some(s"""WITH $curationCtes
            SELECT stage_order, drop_stage, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM disp GROUP BY stage_order, drop_stage
            ORDER BY stage_order"""))

  private val qSourceOverlap = Q(
    (s, dir) =>
      graft.text.CorpusStats.sourceVocabOverlap(
        t(s, dir, "documents"), "source", "text")
        .orderBy("src_a", "src_b"),
    Some("""WITH v AS (SELECT DISTINCT source AS src, token FROM
                         (SELECT source, unnest(string_split(text, ' ')) AS token
                          FROM documents)),
            sizes AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n
                      FROM v GROUP BY src),
            inter AS (SELECT a.src AS src_a, b.src AS src_b,
                             CAST(COUNT(*) AS BIGINT) AS n_common
                      FROM v a JOIN v b ON a.token = b.token AND a.src < b.src
                      GROUP BY a.src, b.src)
            SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
                   ROUND(n_common / CAST(sa.n + sb.n - n_common AS DOUBLE), 6)
                     AS jaccard
            FROM inter
            JOIN sizes sa ON sa.src = src_a
            JOIN sizes sb ON sb.src = src_b
            ORDER BY src_a, src_b"""))

  /** Blocked fuzzy linkage ([[graft.ops.Linkage.fuzzyJoin]]): customers
    * vs a deterministically corrupted registry (10th character deleted),
    * blocked on the edit-invariant 4-char name suffix, distance ≤ 1.
    * The oracle replays blocks and unbounded levenshtein — values agree
    * with Spark's threshold form on every kept row.
    */
  private val qFuzzyLink = Q(
    (s, dir) => {
      val c = t(s, dir, "customer")
      val corrupted = c.select(
        (col("c_custkey") + 5000000L).as("rid"),
        concat(substring(col("c_name"), 1, 9),
          substring(col("c_name"), 11, 1000)).as("rname"))
      graft.ops.Linkage.fuzzyJoin(
          c, "c_custkey", "c_name", corrupted, "rid", "rname",
          n => substring(n, -4, 4), maxDistance = 1)
        .orderBy("left_id", "right_id")
    },
    Some("""WITH l AS (SELECT c_custkey AS left_id, c_name AS lname,
                              substring(c_name, length(c_name) - 3, 4) AS blk
                       FROM customer),
            r AS (SELECT c_custkey + 5000000 AS right_id,
                         substring(c_name, 1, 9) || substring(c_name, 11) AS rname
                  FROM customer),
            rb AS (SELECT right_id, rname,
                          substring(rname, length(rname) - 3, 4) AS blk
                   FROM r)
            SELECT left_id, right_id,
                   CAST(levenshtein(lname, rname) AS INTEGER) AS distance
            FROM l JOIN rb USING (blk)
            WHERE levenshtein(lname, rname) <= 1
            ORDER BY left_id, right_id"""))

  /** Triangle census of the SimHash near-dup graph
    * ([[graft.dedup.GraphStats.triangleCounts]]): density diagnostics
    * over the same 1762-edge pair list q_dedup_simhash hash-checks; the
    * oracle replays the simhash chain and both triangle joins.
    */
  private val qTriangles = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val sims = graft.dedup.NearDup.simHash(docs, "doc_id", "text")
      val pairs = graft.dedup.NearDup.simHashNearDups(sims, maxHamming = 10)
      graft.dedup.GraphStats.triangleCounts(pairs, "id_a", "id_b")
        .orderBy("id")
    },
    Some(s"""WITH ${simHashPairsCtes(10)},
             ed AS (SELECT id_a AS a, id_b AS b FROM spairs),
             w AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                   FROM ed e1 JOIN ed e2 ON e2.a = e1.b),
             tri AS (SELECT w.x, w.y, w.z
                     FROM w JOIN ed e3 ON e3.a = w.x AND e3.b = w.z),
             nodes AS (SELECT x AS id FROM tri
                       UNION ALL SELECT y FROM tri
                       UNION ALL SELECT z FROM tri)
             SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
             FROM nodes GROUP BY id ORDER BY id"""))

  /** Time-decayed per-user value ([[graft.ops.Decay.decayedSumPerKey]]):
    * 7-day half-life anchored at the logical date 2024-02-01 (epoch day
    * 19754) — per-row micro-quantized pow, exact integer aggregate.
    */
  private val qDecayedSum = Q(
    (s, dir) =>
      graft.ops.Decay.decayedSumPerKey(
        Tables.readEvents(s, dir), "user_id", "ts", "value",
        refEpochDay = 19754L, halfLifeDays = 7)
        .orderBy("user_id"),
    Some("""WITH b AS (SELECT user_id,
                              GREATEST(19754 - (epoch_us(ts) // 86400000000), 0)
                                AS age_days,
                              CAST(ROUND(value * 1000) AS BIGINT) AS v_milli
                       FROM events),
            w AS (SELECT user_id, v_milli,
                         CAST(ROUND(pow(0.5, age_days / 7.0) * 1000000.0)
                              AS BIGINT) AS w_micro
                  FROM b)
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(v_milli * w_micro) AS BIGINT) AS decayed_milli,
                   ROUND(CAST(SUM(v_milli * w_micro) AS BIGINT)
                         / 1000000000.0, 6) AS decayed_value
            FROM w GROUP BY user_id ORDER BY user_id"""))

  /** Robust spread per group ([[graft.ops.Normalize.madPerGroup]]):
    * median absolute deviation of quantity per (returnflag, linestatus),
    * double application of the exact-median Aggregator vs DuckDB's
    * replayed two-pass median chain.
    */
  private val qMad = Q(
    (s, dir) =>
      graft.ops.Normalize.madPerGroup(
        t(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"), "l_quantity")
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""WITH med AS (SELECT l_returnflag, l_linestatus,
                                median(l_quantity) AS m
                         FROM lineitem GROUP BY l_returnflag, l_linestatus),
            d AS (SELECT l.l_returnflag, l.l_linestatus, med.m,
                         abs(l.l_quantity - med.m) AS dev
                  FROM lineitem l
                  JOIN med ON med.l_returnflag = l.l_returnflag
                          AND med.l_linestatus = l.l_linestatus)
            SELECT l_returnflag, l_linestatus,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   ROUND(MIN(m), 6) AS median,
                   ROUND(median(dev), 6) AS mad
            FROM d GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** Int8 embedding quantization ([[graft.similarity.Quantize.toInt8]]):
    * exploded per-element form so the driver hashes scalars; the oracle
    * replays maxabs → scale → per-element round with the identical
    * IEEE expression shape.
    */
  private val qQuantizeInt8 = Q(
    (s, dir) => {
      val q = graft.similarity.Quantize.toInt8(
        t(s, dir, "embeddings").filter(col("vec_id") < 100), "embedding")
      q.select(col("vec_id"), col("scale_micro"),
          posexplode(col("q8")).as(Seq("pos", "q")))
        .withColumn("q", col("q").cast("int"))
        .orderBy("vec_id", "pos")
    },
    Some("""WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v
                       FROM embeddings WHERE vec_id < 100),
            m AS (SELECT vec_id, v,
                         list_max(list_transform(v, x -> abs(x))) AS ma
                  FROM b),
            s AS (SELECT vec_id, v, ma,
                         CAST(ROUND(ma / 127.0 * 1000000.0) AS BIGINT)
                           AS scale_micro
                  FROM m),
            e AS (SELECT vec_id, scale_micro,
                         unnest(list_transform(generate_series(1, len(v)),
                           i -> {'pos': i - 1,
                                 'q': CASE WHEN ma = 0 THEN 0
                                           ELSE CAST(ROUND(v[i] * 127.0 / ma)
                                                     AS INTEGER) END})) AS u
                  FROM s)
            SELECT vec_id, scale_micro, CAST(u.pos AS INTEGER) AS pos,
                   CAST(u.q AS INTEGER) AS q
            FROM e ORDER BY vec_id, pos"""))

  /** Clustering coefficients over the SimHash near-dup graph
    * ([[graft.dedup.GraphStats.clusteringCoefficients]]): the density
    * read on q_triangles' graph — clique-like neighborhoods vs open
    * template hubs.
    */
  private val qClustering = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val sims = graft.dedup.NearDup.simHash(docs, "doc_id", "text")
      val pairs = graft.dedup.NearDup.simHashNearDups(sims, maxHamming = 10)
      graft.dedup.GraphStats.clusteringCoefficients(pairs, "id_a", "id_b")
        .orderBy("id")
    },
    Some(s"""WITH ${simHashPairsCtes(10)},
             ed AS (SELECT id_a AS a, id_b AS b FROM spairs),
             deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM
                       (SELECT a AS id FROM ed UNION ALL SELECT b FROM ed)
                     GROUP BY id),
             w AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                   FROM ed e1 JOIN ed e2 ON e2.a = e1.b),
             tri AS (SELECT w.x, w.y, w.z
                     FROM w JOIN ed e3 ON e3.a = w.x AND e3.b = w.z),
             tcnt AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM
                        (SELECT x AS id FROM tri
                         UNION ALL SELECT y FROM tri
                         UNION ALL SELECT z FROM tri)
                      GROUP BY id)
             SELECT deg.id, degree,
                    COALESCE(n_triangles, 0) AS n_triangles,
                    CASE WHEN degree < 2 THEN NULL
                         ELSE ROUND((2.0 * COALESCE(n_triangles, 0))
                                    / (degree * (degree - 1)), 6)
                    END AS clustering
             FROM deg LEFT JOIN tcnt ON tcnt.id = deg.id
             ORDER BY deg.id"""))

  /** Fixed-3-iteration PageRank over the simhash near-dup graph
    * ([[graft.dedup.PageRank.rankMicro]]): exact micro-unit integer
    * arithmetic (rank DIV degree contributions, 0.85 damping as
    * `(85·Σ) DIV 100`), so the oracle replays the three rounds as three
    * unrolled CTEs bit-for-bit. Spark side: one persisted
    * adjacency+degree build, one join + one partial-agg groupBy per
    * iteration, per-round `localCheckpoint` lineage truncation.
    */
  private val qPageRank = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val sims = graft.dedup.NearDup.simHash(docs, "doc_id", "text")
      val pairs = graft.dedup.NearDup.simHashNearDups(sims, maxHamming = 10)
      graft.dedup.PageRank.rankMicro(pairs, "id_a", "id_b", iters = 3)
        .orderBy("id")
    },
    Some {
      def iterCte(name: String, prev: String) =
        s"""$name AS (SELECT a.dst AS id,
                        CAST(150000 + (85 * SUM(p.r // a.d)) // 100 AS BIGINT) AS r
                      FROM ad a JOIN $prev p ON p.id = a.src
                      GROUP BY a.dst)"""
      s"""WITH ${simHashPairsCtes(10)},
             ed AS (SELECT id_a AS a, id_b AS b FROM spairs),
             adj AS (SELECT a AS src, b AS dst FROM ed
                     UNION SELECT b AS src, a AS dst FROM ed),
             deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
                     FROM adj GROUP BY src),
             ad AS (SELECT adj.src, adj.dst, deg.d
                    FROM adj JOIN deg USING (src)),
             r0 AS (SELECT DISTINCT src AS id, CAST(1000000 AS BIGINT) AS r
                    FROM adj),
             ${iterCte("i1", "r0")},
             ${iterCte("i2", "i1")},
             ${iterCte("i3", "i2")}
             SELECT id, r AS rank_micro FROM i3 ORDER BY id"""
    })

  /** Windowed type stats run through the STREAMING code path
    * ([[graft.streaming.EventStreams.windowedTypeStats]]): the events
    * table drained as a file-source stream via `Trigger.AvailableNow`
    * into a memory sink, so the oracle checks the watermark/window
    * state machine itself — not a batch twin. Append mode emits exactly
    * the windows finalized by the terminal watermark; Spark tracks the
    * watermark in MILLIS (event-time stats are micros-floored to ms,
    * then minus the 10-minute delay), which the oracle replicates with
    * `// 1000` before the subtraction. Window starts are epoch-aligned
    * 5-minute buckets on both engines (pure integer arithmetic in the
    * oracle — no time_bucket origin dependence).
    */
  private val qStreamWindowStats = Q(
    (s, dir) => withStreamShuffle(s) {
      val q = graft.streaming.EventStreams
        .windowedTypeStats(Tables.readEventsStream(s, dir))
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_q_stream_window_stats")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_q_stream_window_stats")
        .select(unix_micros(col("win_start").cast("timestamp")).as("start_us"),
          unix_micros(col("win_end").cast("timestamp")).as("end_us"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("start_us", "event_type")
    },
    Some("""WITH mx AS (
              SELECT (max(epoch_us(ts)) // 1000 - 600000) * 1000 AS wm_us
              FROM events),
            g AS (
              SELECT epoch_us(ts) // 300000000 * 300000000 AS start_us,
                     event_type, CAST(COUNT(*) AS BIGINT) AS n,
                     ROUND(SUM(value), 2) AS total_value
              FROM events GROUP BY 1, 2)
            SELECT g.start_us, g.start_us + 300000000 AS end_us,
                   g.event_type, g.n, g.total_value
            FROM g, mx
            WHERE g.start_us + 300000000 <= mx.wm_us
            ORDER BY start_us, event_type"""))

  /** CDC latest-state run through the STREAMING code path
    * ([[graft.streaming.EventStreams.cdcLatest]], `mapGroupsWithState`
    * in update mode, `Trigger.AvailableNow` → memory sink): events
    * deterministically recast as a change stream (key = user_id mod 50,
    * change-log position = event_id — globally unique, so the winner
    * rule never ties — op cycling I/U/D by event_id mod 3). The sink
    * holds one row per key per micro-batch that changed it; the final
    * state is the per-key (seq, op)-max row, selected by the SAME
    * winner rule so the result is identical under any batch split.
    */
  private val qCdcLatest = Q(
    (s, dir) => withStreamShuffle(s) {
      import s.implicits._
      val changes = Tables.readEventsStream(s, dir)
        .select((col("user_id") % 50).as("key"),
          col("event_id").as("seq"),
          element_at(array(lit("I"), lit("U"), lit("D")),
            (col("event_id") % 3).cast("int") + 1).as("op"),
          col("value").as("payload"))
        .as[graft.streaming.EventStreams.Change]
      val q = graft.streaming.EventStreams.cdcLatest(s, changes)
        .writeStream.outputMode("update").format("memory")
        .queryName("graft_q_cdc_latest")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_q_cdc_latest")
        .withColumn("__rn", row_number().over(
          Window.partitionBy("key").orderBy(col("seq").desc, col("op").desc)))
        .filter(col("__rn") === 1).drop("__rn")
        .orderBy("key")
    },
    Some("""WITH ch AS (
              SELECT user_id % 50 AS key, event_id AS seq,
                     ['I','U','D'][CAST(event_id % 3 AS INT) + 1] AS op,
                     value AS payload
              FROM events),
            r AS (
              SELECT ch.*, row_number() OVER (
                       PARTITION BY key ORDER BY seq DESC, op DESC) AS rn
              FROM ch)
            SELECT key, seq, op, payload, (op = 'D') AS deleted
            FROM r WHERE rn = 1 ORDER BY key"""))

  /** Gap-based sessionization run through the STREAMING code path
    * ([[graft.streaming.EventStreams.sessionize]] —
    * `flatMapGroupsWithState`, append mode, `Trigger.AvailableNow` →
    * memory sink). The stream emits exactly the sessions CLOSED by the
    * gap rule; each user's final session stays open in state when the
    * finite input drains, so the oracle is the batch gap-rule
    * sessionization minus each user's last session — a set that is
    * invariant under micro-batch splits (closing is driven by event
    * gaps, and open state carries across batches). Sum order inside a
    * session is the same (ts, event_id) order on both sides; ROUND
    * bridges the float tail.
    */
  private val qStreamSessionize = Q(
    (s, dir) => withStreamShuffle(s) {
      import s.implicits._
      val evs = Tables.readEventsStream(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("tsUs"), col("value"))
        .as[graft.streaming.EventStreams.Ev]
      val q = graft.streaming.EventStreams.sessionize(s, evs, gapSeconds = 1800)
        .toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_q_stream_sessionize")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_q_stream_sessionize")
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "start_us")
    },
    Some("""WITH flags AS (
              SELECT user_id, event_id, value, epoch_us(ts) AS us,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1
                          ELSE 0 END AS is_start
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
              SELECT user_id, value, us,
                     SUM(is_start) OVER (PARTITION BY user_id ORDER BY us, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM flags),
            agg AS (
              SELECT user_id, session_id,
                     MIN(us) AS start_us, MAX(us) AS end_us,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     ROUND(SUM(value), 2) AS total_value
              FROM sess GROUP BY user_id, session_id),
            last AS (
              SELECT user_id, MAX(session_id) AS last_id
              FROM agg GROUP BY user_id)
            SELECT a.user_id, a.start_us, a.end_us, a.n_events, a.total_value
            FROM agg a JOIN last l
              ON l.user_id = a.user_id AND a.session_id < l.last_id
            ORDER BY a.user_id, a.start_us"""))

  /** The SAME gap-rule sessionization through Spark 4's
    * `transformWithState` API ([[graft.streaming.EventStreams
    * .sessionizeTws]]) with the RocksDB state store provider — the
    * production-scale state backend (changelog checkpointing keeps
    * multi-TB session state restorable). Shares q_stream_sessionize's
    * oracle verbatim: two stateful APIs (flatMapGroupsWithState and
    * StatefulProcessor) proven against one truth. The provider conf is
    * scoped to the query and restored after.
    */
  private val qStreamSessionizeTws = Q(
    (s, dir) => withStreamShuffle(s) {
      import s.implicits._
      val evs = Tables.readEventsStream(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("tsUs"), col("value"))
        .as[graft.streaming.EventStreams.Ev]
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val q = graft.streaming.EventStreams
          .sessionizeTws(s, evs, gapSeconds = 1800)
          .toDF()
          .writeStream.outputMode("append").format("memory")
          .queryName("graft_q_stream_sessionize_tws")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally {
        prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }
      s.table("graft_q_stream_sessionize_tws")
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "start_us")
    },
    qStreamSessionize.oracle)

  /** Watermarked STREAM-STREAM join run through the streaming engine
    * ([[graft.streaming.EventStreams.attributionJoin]], both sides file-
    * source streams, `Trigger.AvailableNow` → memory sink). Inner joins
    * emit on match with no watermark hold-back, so draining a finite
    * input yields exactly the batch join — q_attribution's oracle,
    * reused verbatim on the streaming code path (join state buffering,
    * watermark-derived eviction, two stream sources).
    */
  private val qStreamAttribution = Q(
    (s, dir) => withStreamShuffle(s) {
      val views = Tables.readEventsStream(s, dir)
        .filter(col("event_type") === "view")
      val purchases = Tables.readEventsStream(s, dir)
        .filter(col("event_type") === "purchase")
      val q = graft.streaming.EventStreams.attributionJoin(views, purchases)
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_q_stream_attribution")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_q_stream_attribution")
        .select(col("view_id"), col("purchase_id"), col("user_id"),
          col("purchase_value"))
        .orderBy("view_id", "purchase_id")
    },
    qAttribution.oracle)

  /** Streaming exact key-dedup with BOUNDED state run through the
    * driver gate ([[graft.streaming.EventStreams.dedupStream]] —
    * `dropDuplicatesWithinWatermark`, the production ingest-dedup form:
    * per-key state is evicted once the watermark passes the key's event
    * time, so state is O(keys inside the horizon) instead of O(all keys
    * ever), which is what plain streaming `dropDuplicates` costs). The
    * horizon here spans the whole finite input, so every distinct
    * (user_id, event_type) is emitted exactly once and the oracle is a
    * plain batch DISTINCT — invariant under any micro-batch split
    * because only the key columns survive the final projection
    * (first-seen non-key columns would be processing-order-dependent).
    */
  private val qStreamDedup = Q(
    (s, dir) => withStreamShuffle(s) {
      val evs = Tables.readEventsStream(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val q = graft.streaming.EventStreams
        .dedupStream(evs, Seq("user_id", "event_type"), lateness = "3650 days")
        .select("user_id", "event_type")
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_q_stream_dedup")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("graft_q_stream_dedup").orderBy("user_id", "event_type")
    },
    Some("""SELECT DISTINCT user_id, event_type FROM events
            ORDER BY user_id, event_type"""))

  /** Streaming near-dup at INGEST run through the driver gate
    * ([[graft.streaming.NearDupIngest]]): the documents table streamed
    * as the new-docs feed (doc_id < 250), LSH-checked per micro-batch
    * against the static 250..1000 corpus via `foreachBatch` +
    * [[graft.dedup.NearDup.minHashLshAgainstCorpus]], results appended
    * to parquet and read back after the AvailableNow drain. Pairs
    * depend only on (new doc, static corpus), so the result set is
    * invariant under any micro-batch split — the oracle is
    * q_dedup_lsh_incremental's chain, reused verbatim on the streaming
    * code path.
    */
  /** Streaming BM25 index maintenance run through the driver gate
    * ([[graft.streaming.IndexIngest.startBm25]]): the index is
    * initialized with the even-id half of the documents table, the odd
    * half arrives as a STREAM and is appended per micro-batch
    * (`foreachBatch` + [[graft.text.Bm25.appendBm25Index]] — per-
    * segment df/stats rows, batch-split invariant by the sum contract),
    * and the probe then runs against the stored index covering the FULL
    * corpus — so [[qBm25]]'s whole-corpus oracle replays verbatim on
    * the streaming-maintained index.
    */
  private lazy val qStreamBm25Ingest = Q(
    (s, dir) => {
      val tmp = scratchDir("graft_stream_bm25")
      val idxPath = tmp.resolve("idx").toString
      val ckpt = tmp.resolve("ckpt").toString
      val docs = t(s, dir, "documents")
      graft.text.Bm25.writeBm25Index(
        docs.filter(col("doc_id") % 2 === 0), idxPath, nBuckets = 16)
      val q = graft.streaming.IndexIngest.startBm25(
        Tables.readTableStream(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        idxPath, ckpt, nBuckets = 16)
      q.awaitTermination()
      graft.text.Bm25.topKAgainstIndex(
          docs.filter(col("doc_id") < 3), idxPath, k = 10, nBuckets = 16)
        .orderBy("qid", "rank")
    },
    qBm25.oracle)

  private val qStreamNearDup = Q(
    (s, dir) => {
      val tmp = scratchDir("graft_stream_neardup")
      val outPath = tmp.resolve("out").toString
      val ckpt = tmp.resolve("ckpt").toString
      val newDocs = Tables.readTableStream(s, dir, "documents")
        .filter(col("doc_id") < 250)
      val seen = t(s, dir, "documents")
        .filter(col("doc_id") >= 250 && col("doc_id") < 1000)
      val q = graft.streaming.NearDupIngest.start(
        s, newDocs, seen, "doc_id", "text",
        bands = 4, rowsPerBand = 4, threshold = 0.9,
        outPath = outPath, checkpoint = ckpt)
      q.awaitTermination()
      s.read.parquet(outPath)
        .select(col("new_id"), col("seen_id"), col("jaccard"))
        .orderBy("new_id", "seen_id")
    },
    qDedupLshIncremental.oracle)

  /** STEADY-STATE streaming near-dup ([[graft.streaming.NearDupIngest
    * .startFromIndex]]): the seen side comes off the STORED near-dup
    * index ([[steadyIndex]] memoizes the build), resolved ONCE at
    * stream start into a pinned handle — per micro-batch only the
    * batch's own signature pass and batch-sized joins remain, where the
    * from-raw twin re-pays the whole seen corpus's signature pass every
    * batch. Indexed ≡ from-raw, so q_stream_neardup's oracle is shared
    * verbatim.
    */
  private val qStreamNearDupSteady = Q(
    (s, dir) => {
      val tmp = scratchDir("graft_stream_neardup_steady")
      val outPath = tmp.resolve("out").toString
      val ckpt = tmp.resolve("ckpt").toString
      val idxPath = steadyIndex("graft_neardup_steady", dir) { p =>
        graft.dedup.NearDup.writeNearDupIndex(
          t(s, dir, "documents")
            .filter(col("doc_id") >= 250 && col("doc_id") < 1000),
          "doc_id", "text", numHashes = 16, p)
      }
      val newDocs = Tables.readTableStream(s, dir, "documents")
        .filter(col("doc_id") < 250)
      val handle = steadyHandle(s, s"neardup:$idxPath")(
        graft.dedup.NearDup.openNearDupIndex(s, idxPath, bands = 4, rowsPerBand = 4))
      val q = graft.streaming.NearDupIngest.startFromHandle(
        s, newDocs, handle, "doc_id", "text", threshold = 0.9,
        outPath = outPath, checkpoint = ckpt)
      q.awaitTermination()
      s.read.parquet(outPath)
        .select(col("new_id"), col("seen_id"), col("jaccard"))
        .orderBy("new_id", "seen_id")
    },
    qStreamNearDup.oracle)

  /** Streaming decontamination at INGEST ([[graft.streaming
    * .DecontamIngest]]): documents < 450 arrive as the candidate stream
    * and each micro-batch is fuzzy-checked against the STORED benchmark
    * index (docs ≥ 450); only clean rows are admitted, appended
    * exactly-once into their `batch_id` partition. A doc's verdict
    * depends only on (doc, index), so the admitted set is micro-batch-
    * split invariant and [[qDecontamFuzzyRemoved]]'s oracle replays
    * VERBATIM on the streaming code path (engine + store round trip
    * included in the check).
    */
  private val qStreamDecontam = Q(
    (s, dir) => {
      val tmp = scratchDir("graft_stream_decontam")
      val idxPath = tmp.resolve("idx").toString
      val outPath = tmp.resolve("out").toString
      val ckpt = tmp.resolve("ckpt").toString
      val d = t(s, dir, "documents")
      graft.text.Decontaminate.writeBenchIndex(
        d.filter(col("doc_id") >= 450), "doc_id", "text", idxPath)
      val q = graft.streaming.DecontamIngest.start(
        s, Tables.readTableStream(s, dir, "documents").filter(col("doc_id") < 450),
        idxPath, "doc_id", "text", threshold = 0.9,
        outPath = outPath, checkpoint = ckpt)
      q.awaitTermination()
      s.read.parquet(outPath)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    qDecontamFuzzyRemoved.oracle)

  /** Streaming IMAGE near-dup at ingest ([[graft.streaming
    * .MediaIngest]]): 16×16 BMP payloads (seed = doc_id mod 40, so ids
    * 40 apart are exact duplicate images) stream in; each micro-batch
    * is decoded + aHashed once, Hamming-checked against the ACCUMULATED
    * hash table and within itself, and appends pairs + its own hashes
    * exactly-once. Canonical pair semantics make the union over batches
    * equal "all near-dup pairs over the corpus", so the oracle replays
    * every hash bit from the BMP closed form and the full cross-pair
    * bit_count(xor) rule — through the streaming engine and both store
    * round trips.
    */
  private val qStreamImageDedup = Q(
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("graft_stream_media")
      val hashPath = tmp.resolve("hashes").toString
      val pairsPath = tmp.resolve("pairs").toString
      val ckpt = tmp.resolve("ckpt").toString
      val stream = Tables.readTableStream(s, dir, "documents")
        .filter(col("doc_id") < 120)
        .select(col("doc_id")).as[Long]
        .map(id => (id, graft.multimodal.Multimodal.makeBmp(16, 16, id % 40)))
        .toDF("doc_id", "payload")
      val q = graft.streaming.MediaIngest.start(
        s, stream, hashPath, pairsPath, ckpt, maxHamming = 2)
      q.awaitTermination()
      s.read.parquet(pairsPath)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
            px AS (SELECT doc_id, r.r AS r, x.x AS x,
                     (doc_id % 40 + (15 - r.r) * 31 + (3*x.x + 0) * 7) % 256
                   + (doc_id % 40 + (15 - r.r) * 31 + (3*x.x + 1) * 7) % 256
                   + (doc_id % 40 + (15 - r.r) * 31 + (3*x.x + 2) * 7) % 256 AS gray
                   FROM ids
                   JOIN generate_series(0, 15) r(r) ON TRUE
                   JOIN generate_series(0, 15) x(x) ON TRUE),
            tot AS (SELECT doc_id, SUM(gray) AS total FROM px GROUP BY doc_id),
            blk AS (SELECT doc_id, r // 2 AS bi, x // 2 AS bj, SUM(gray) AS bsum
                    FROM px GROUP BY 1, 2, 3),
            bits AS (SELECT b.doc_id, bi, bj,
                            CASE WHEN b.bsum * 256 >= t.total * 4 THEN 1 ELSE 0 END AS bit
                     FROM blk b JOIN tot t USING (doc_id)),
            hs AS (SELECT doc_id,
                          CAST(SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << (bi*8 + bj))
                              ELSE 0::HUGEINT END) AS UBIGINT) AS u
                   FROM bits GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.u, b.u)) AS INT) AS hamming
            FROM hs a JOIN hs b
              ON a.doc_id < b.doc_id AND bit_count(xor(a.u, b.u)) <= 2
            ORDER BY id_a, id_b"""))

  /** STEADY-STATE streaming image near-dup ([[graft.streaming
    * .MediaIngest.startSteady]]): the same fused decode+hash+check+admit
    * loop, but the hash history lives as a Hamming-blocked stored index
    * ([[graft.dedup.NearDup.writeSimHashIndex]]) instead of a flat
    * table — per micro-batch the flat form re-reads and re-blocks ALL
    * accumulated hashes (O(history) per batch), while here probes
    * partition-prune to the pkeys the batch touches. Indexed ≡ flat by
    * the stored-blocking contract, so q_stream_image_dedup's oracle is
    * shared verbatim.
    */
  private val qStreamImageDedupSteady = Q(
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("graft_stream_media_steady")
      val idxPath = tmp.resolve("idx").toString
      val pairsPath = tmp.resolve("pairs").toString
      val ckpt = tmp.resolve("ckpt").toString
      val stream = Tables.readTableStream(s, dir, "documents")
        .filter(col("doc_id") < 120)
        .select(col("doc_id")).as[Long]
        .map(id => (id, graft.multimodal.Multimodal.makeBmp(16, 16, id % 40)))
        .toDF("doc_id", "payload")
      val q = graft.streaming.MediaIngest.startSteady(
        s, stream, idxPath, pairsPath, ckpt, maxHamming = 2)
      q.awaitTermination()
      s.read.parquet(pairsPath)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    },
    qStreamImageDedup.oracle)

  /** Streaming AUDIO near-dup at ingest — the same hash-agnostic
    * [[graft.streaming.MediaIngest]] loop dispatched on the audio
    * fingerprint (`kind = "audio"`): WAV payloads (seed = doc_id mod
    * 40, so ids 40 apart are exact duplicate recordings) decode +
    * fingerprint ONCE per micro-batch, Hamming-check against the
    * accumulated fingerprint table and within the batch, and append
    * exactly-once under the canonical split-invariant pair semantics.
    * The oracle replays the energy-delta fingerprint law per doc and
    * the full cross-pair bit_count(xor) rule through the streaming
    * engine and both store round trips.
    */
  private val qStreamAudioDedup = Q(
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("graft_stream_audio")
      val hashPath = tmp.resolve("hashes").toString
      val pairsPath = tmp.resolve("pairs").toString
      val ckpt = tmp.resolve("ckpt").toString
      val stream = Tables.readTableStream(s, dir, "documents")
        .filter(col("doc_id") < 120)
        .select(col("doc_id")).as[Long]
        .map(id => (id, graft.multimodal.Multimodal.makeWav(130, 1, 8000, id % 40)))
        .toDF("doc_id", "payload")
      val q = graft.streaming.MediaIngest.start(
        s, stream, hashPath, pairsPath, ckpt, maxHamming = 2, kind = "audio")
      q.awaitTermination()
      s.read.parquet(pairsPath)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    },
    Some("""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 120),
            sm AS (SELECT doc_id, i.i AS i,
                          ((doc_id % 40 + i.i * 13) % 256 - 128) AS v
                   FROM ids JOIN generate_series(0, 129) i(i) ON TRUE),
            fr AS (SELECT ids.doc_id, f.f AS f,
                          (f.f * 130) // 65 AS lo, ((f.f + 1) * 130) // 65 AS hi
                   FROM ids JOIN generate_series(0, 64) f(f) ON TRUE),
            fe AS (SELECT fr.doc_id, fr.f, CAST(SUM(sm.v * sm.v) AS BIGINT) AS e
                   FROM fr JOIN sm ON sm.doc_id = fr.doc_id
                     AND sm.i >= fr.lo AND sm.i < fr.hi
                   GROUP BY 1, 2),
            bits AS (SELECT a.doc_id, a.f - 1 AS idx,
                            CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
                     FROM fe a JOIN fe b ON b.doc_id = a.doc_id AND b.f = a.f - 1
                     WHERE a.f >= 1),
            hs AS (SELECT doc_id,
                          CAST(SUM(CASE WHEN bit = 1
                              THEN (1::HUGEINT << idx) ELSE 0::HUGEINT END) AS UBIGINT) AS u
                   FROM bits GROUP BY doc_id)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.u, b.u)) AS INT) AS hamming
            FROM hs a JOIN hs b
              ON a.doc_id < b.doc_id AND bit_count(xor(a.u, b.u)) <= 2
            ORDER BY id_a, id_b"""))

  /** STEADY-STATE streaming audio dedup ([[graft.streaming.MediaIngest
    * .startSteady]] with `kind = "audio"`): the fingerprint history
    * lives as the Hamming-blocked stored index — the same indexed/flat
    * split as the image twin, dispatched on the audio hasher. Shares
    * q_stream_audio_dedup's oracle verbatim (indexed ≡ flat by the
    * stored-blocking contract).
    */
  /** Streaming media METADATA at ingest ([[graft.streaming
    * .MetaIngest]] — r17): one header peek per payload per micro-batch
    * (no decode), full metadata rows landing exactly-once, and the
    * ADMISSION gate applied at arrival — images/videos below 6×5 and
    * audio under 8 kHz never reach a decode tier. Five payload classes
    * straddle every gate edge: PNGs whose width sweeps across the
    * threshold, WAVs alternating 4/12 kHz, always-admitted 16×16 MP4s,
    * always-rejected 4×4 animated GIFs, and junk (unknown never
    * passes). The oracle replays the class arithmetic AND the
    * admission predicate through the streaming engine and the store
    * round trip.
    */
  private val qStreamMediaMeta = Q(
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("graft_stream_meta")
      val metaPath = tmp.resolve("meta").toString
      val keptPath = tmp.resolve("kept").toString
      val ckpt = tmp.resolve("ckpt").toString
      val stream = Tables.readTableStream(s, dir, "documents")
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val bytes = (id % 7) match {
            case 0 => graft.multimodal.Multimodal.makePng(
              4 + (id % 6).toInt, 8, id)
            case 1 => graft.multimodal.Multimodal.makeWav(
              100, 1, if (id % 2 == 0) 4000 else 12000, id)
            case 2 => graft.multimodal.Multimodal.makeMp4Mjpeg(16, 16, id, 2)
            case 3 => graft.multimodal.Multimodal.makeGifAnimated(4, 4, id, 2)
            case 4 => Array.fill(12)(7.toByte)
            // r17 s2: the session's formats ride the SAME gate — an
            // APNG always passes at 8×8, an ICO sweeps the width
            // threshold exactly like the PNG class
            case 5 => graft.multimodal.Multimodal.makeApng(8, 8, id, 2)
            case _ => graft.multimodal.Multimodal.makeIco(
              (4 + id % 6).toInt, 8, id)
          }
          (id, bytes)
        }
        .toDF("doc_id", "payload")
      val q = graft.streaming.MetaIngest.start(
        s, stream, metaPath, keptPath, ckpt,
        minWidth = 6, minHeight = 5, minSampleRate = 8000)
      q.awaitTermination()
      s.read.parquet(keptPath)
        .select(col("doc_id"), col("kind"), col("format"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 7 AS k FROM documents WHERE doc_id < 400)
            SELECT doc_id,
                   CASE WHEN k = 0 OR k = 6 THEN 'image'
                        WHEN k = 1 THEN 'audio' ELSE 'video' END AS kind,
                   CASE k WHEN 0 THEN 'png' WHEN 1 THEN 'wav_pcm16'
                          WHEN 5 THEN 'apng' WHEN 6 THEN 'ico'
                          ELSE 'mp4' END AS format
            FROM d
            WHERE (k = 0 AND doc_id % 6 >= 2)
               OR (k = 1 AND doc_id % 2 = 1)
               OR k = 2 OR k = 5
               OR (k = 6 AND doc_id % 6 >= 2)
            ORDER BY doc_id"""))

  private val qStreamAudioDedupSteady = Q(
    (s, dir) => {
      import s.implicits._
      val tmp = scratchDir("graft_stream_audio_steady")
      val idxPath = tmp.resolve("idx").toString
      val pairsPath = tmp.resolve("pairs").toString
      val ckpt = tmp.resolve("ckpt").toString
      val stream = Tables.readTableStream(s, dir, "documents")
        .filter(col("doc_id") < 120)
        .select(col("doc_id")).as[Long]
        .map(id => (id, graft.multimodal.Multimodal.makeWav(130, 1, 8000, id % 40)))
        .toDF("doc_id", "payload")
      val q = graft.streaming.MediaIngest.startSteady(
        s, stream, idxPath, pairsPath, ckpt, maxHamming = 2, kind = "audio")
      q.awaitTermination()
      s.read.parquet(pairsPath)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy("id_a", "id_b")
    },
    qStreamAudioDedup.oracle)

  /** Streaming SEMANTIC decontamination at ingest ([[graft.streaming
    * .DecontamIngest.startSemantic]]) — the (streaming × semantic) cell
    * of the decontamination matrix: embedding micro-batches gated
    * against the STORED benchmark embed index, clean vectors admitted
    * exactly-once per batch_id. The oracle replays the indexed
    * detector's LSH chain (planes → buckets → cap → bucket join) in
    * remove form — the same-bucket recall contract stays explicit in
    * the checked result, through the streaming engine + store round
    * trip.
    */
  private val qStreamDecontamSemantic = Q(
    (s, dir) => {
      val tmp = scratchDir("graft_stream_semdecon")
      val idxPath = tmp.resolve("idx").toString
      val outPath = tmp.resolve("out").toString
      val ckpt = tmp.resolve("ckpt").toString
      val emb = t(s, dir, "embeddings")
      graft.similarity.Ann.writeEmbedNearDupIndex(
        emb.filter(col("vec_id") % 10 === 1), idxPath, nBits = 8)
      val q = graft.streaming.DecontamIngest.startSemantic(
        s, Tables.readTableStream(s, dir, "embeddings")
          .filter(col("vec_id") % 10 =!= 1),
        idxPath, tau = 0.3, outPath = outPath, checkpoint = ckpt)
      q.awaitTermination()
      s.read.parquet(outPath)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }, {
      val planes = graft.similarity.Ann.hyperplanes(8, 64, 42L)
      Some(s"""WITH sb AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS v,
                     ${bucketSql("embedding::DOUBLE[]", planes)} AS bucket
                     FROM embeddings WHERE vec_id % 10 = 1),
              nb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
                     ${bucketSql("embedding::DOUBLE[]", planes)} AS bucket
                     FROM embeddings WHERE vec_id % 10 <> 1),
              kept AS (SELECT bucket FROM sb GROUP BY bucket HAVING COUNT(*) <= 1000),
              bad AS (SELECT DISTINCT n.id
                      FROM nb n
                      JOIN (SELECT sb.* FROM sb JOIN kept USING (bucket)) s
                        ON n.bucket = s.bucket AND n.id <> s.bid
                      WHERE ROUND(list_cosine_similarity(n.v, s.v), 6) >= 0.3)
            SELECT vec_id, label FROM embeddings
            WHERE vec_id % 10 <> 1 AND vec_id NOT IN (SELECT id FROM bad)
            ORDER BY vec_id""")
    })

  /** Threshold set-similarity self-join via prefix filtering
    * ([[graft.dedup.SetSimJoin]], PPJoin family): all pairs with token
    * Jaccard >= 0.9, found by joining only on each document's RARE
    * prefix tokens (plus the length filter), then verifying exactly.
    * The oracle replays the BRUTE-FORCE inverted-index join — every
    * token, no filters — so a pruning off-by-one surfaces as a missing
    * pair, not as agreement. Threshold carried as the rational 9/10;
    * all pruning/acceptance arithmetic is BIGINT on both engines.
    */
  private val qSetSimJoin = Q(
    (s, dir) =>
      graft.dedup.SetSimJoin.jaccardJoin(
        t(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text",
        tNum = 9, tDen = 10)
        .select(col("id_a"), col("id_b"), col("inter"), col("len_a"),
          col("len_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b"),
    Some("""WITH d0 AS (SELECT doc_id AS id,
                               list_filter(list_distinct(string_split(text, ' ')),
                                           x -> x <> '') AS toks
                        FROM documents WHERE doc_id < 500),
                 d AS (SELECT * FROM d0 WHERE len(toks) > 0),
                 e AS (SELECT id, unnest(toks) AS tok FROM d),
                 pairs AS (SELECT a.id AS id_a, b.id AS id_b,
                                  CAST(COUNT(*) AS BIGINT) AS inter
                           FROM e a JOIN e b ON b.tok = a.tok AND a.id < b.id
                           GROUP BY 1, 2),
                 v AS (SELECT p.id_a, p.id_b, p.inter,
                              CAST(len(da.toks) AS BIGINT) AS len_a,
                              CAST(len(db.toks) AS BIGINT) AS len_b
                       FROM pairs p
                       JOIN d da ON da.id = p.id_a
                       JOIN d db ON db.id = p.id_b)
            SELECT id_a, id_b, inter, len_a, len_b,
                   ROUND(CAST(inter AS DOUBLE) /
                         CAST(len_a + len_b - inter AS DOUBLE), 6) AS jaccard
            FROM v
            WHERE 10 * inter >= 9 * (len_a + len_b - inter)
            ORDER BY id_a, id_b"""))

  /** The iterated distributed BPE trainer ([[graft.text.Bpe.train]]):
    * three full rounds of count → argmax → merge-everywhere, run on the
    * checkpointed word histogram (the corpus is scanned once). The
    * oracle replays the LOOP round for round — pair counts from the
    * '|'-delimited symbol strings, the same (count DESC, pa, pb)
    * argmax, and the same double-`replace` merge application (two
    * global passes are provably exact leftmost-greedy non-overlapping
    * merging; see Bpe.train scaladoc) — so a divergence in any round's
    * choice or count fails the gate.
    */
  private val qBpeTrain = Q(
    (s, dir) =>
      graft.text.Bpe.train(t(s, dir, "documents"), "text", rounds = 3)
        .orderBy("round"),
    Some(raw"""WITH w0 AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
            words AS (SELECT '|' || regexp_replace(w, '(.)', '\1|', 'g') AS s,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM w0 WHERE w <> '' GROUP BY 1),
            e1 AS (SELECT n, l, unnest(generate_series(1, len(l) - 1)) AS i
                   FROM (SELECT string_split(trim(s, '|'), '|') AS l, n FROM words) t1
                   WHERE len(l) >= 2),
            p1 AS (SELECT l[i] AS pa, l[i + 1] AS pb, CAST(SUM(n) AS BIGINT) AS pair_count
                   FROM e1 GROUP BY 1, 2),
            r1 AS (SELECT * FROM p1 ORDER BY pair_count DESC, pa, pb LIMIT 1),
            w1 AS (SELECT ${bpeMergeSql("s", "r1.pa", "r1.pb")} AS s, n
                   FROM words, r1),
            e2 AS (SELECT n, l, unnest(generate_series(1, len(l) - 1)) AS i
                   FROM (SELECT string_split(trim(s, '|'), '|') AS l, n FROM w1) t2
                   WHERE len(l) >= 2),
            p2 AS (SELECT l[i] AS pa, l[i + 1] AS pb, CAST(SUM(n) AS BIGINT) AS pair_count
                   FROM e2 GROUP BY 1, 2),
            r2 AS (SELECT * FROM p2 ORDER BY pair_count DESC, pa, pb LIMIT 1),
            w2 AS (SELECT ${bpeMergeSql("s", "r2.pa", "r2.pb")} AS s, n
                   FROM w1, r2),
            e3 AS (SELECT n, l, unnest(generate_series(1, len(l) - 1)) AS i
                   FROM (SELECT string_split(trim(s, '|'), '|') AS l, n FROM w2) t3
                   WHERE len(l) >= 2),
            p3 AS (SELECT l[i] AS pa, l[i + 1] AS pb, CAST(SUM(n) AS BIGINT) AS pair_count
                   FROM e3 GROUP BY 1, 2),
            r3 AS (SELECT * FROM p3 ORDER BY pair_count DESC, pa, pb LIMIT 1)
            SELECT 1 AS round, pa, pb, pa || pb AS merged, pair_count FROM r1
            UNION ALL
            SELECT 2, pa, pb, pa || pb, pair_count FROM r2
            UNION ALL
            SELECT 3, pa, pb, pa || pb, pair_count FROM r3
            ORDER BY round"""))

  /** BPE encode with the merges [[graft.text.Bpe.train]] just learned:
    * per-doc post-merge token counts — the number a token-budget
    * planner uses after tokenizer training. Merge application is
    * vocab-sized (distinct words), the corpus pays explode + equi-join
    * + agg. Oracle: the train chain's three rounds re-derived, then the
    * same leftmost-greedy `list_reduce` fold applied to the distinct
    * vocabulary and joined back per doc.
    */
  private val qBpeEncode = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val merges = graft.text.Bpe.train(d, "text", rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.Bpe.encode(d, "doc_id", "text", merges)
        .orderBy("doc_id")
    },
    Some(raw"""WITH w0 AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
            words AS (SELECT '|' || regexp_replace(w, '(.)', '\1|', 'g') AS s,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM w0 WHERE w <> '' GROUP BY 1),
            e1 AS (SELECT n, l, unnest(generate_series(1, len(l) - 1)) AS i
                   FROM (SELECT string_split(trim(s, '|'), '|') AS l, n FROM words) t1
                   WHERE len(l) >= 2),
            p1 AS (SELECT l[i] AS pa, l[i + 1] AS pb, CAST(SUM(n) AS BIGINT) AS pair_count
                   FROM e1 GROUP BY 1, 2),
            r1 AS (SELECT * FROM p1 ORDER BY pair_count DESC, pa, pb LIMIT 1),
            w1 AS (SELECT ${bpeMergeSql("s", "r1.pa", "r1.pb")} AS s, n
                   FROM words, r1),
            e2 AS (SELECT n, l, unnest(generate_series(1, len(l) - 1)) AS i
                   FROM (SELECT string_split(trim(s, '|'), '|') AS l, n FROM w1) t2
                   WHERE len(l) >= 2),
            p2 AS (SELECT l[i] AS pa, l[i + 1] AS pb, CAST(SUM(n) AS BIGINT) AS pair_count
                   FROM e2 GROUP BY 1, 2),
            r2 AS (SELECT * FROM p2 ORDER BY pair_count DESC, pa, pb LIMIT 1),
            w2 AS (SELECT ${bpeMergeSql("s", "r2.pa", "r2.pb")} AS s, n
                   FROM w1, r2),
            e3 AS (SELECT n, l, unnest(generate_series(1, len(l) - 1)) AS i
                   FROM (SELECT string_split(trim(s, '|'), '|') AS l, n FROM w2) t3
                   WHERE len(l) >= 2),
            p3 AS (SELECT l[i] AS pa, l[i + 1] AS pb, CAST(SUM(n) AS BIGINT) AS pair_count
                   FROM e3 GROUP BY 1, 2),
            r3 AS (SELECT * FROM p3 ORDER BY pair_count DESC, pa, pb LIMIT 1),
            v1 AS (SELECT DISTINCT w, '|' || regexp_replace(w, '(.)', '\1|', 'g') AS s
                   FROM w0 WHERE w <> ''),
            v2 AS (SELECT w, ${bpeMergeSql("s", "r1.pa", "r1.pb")} AS s
                   FROM v1, r1),
            v3 AS (SELECT w, ${bpeMergeSql("s", "r2.pa", "r2.pb")} AS s
                   FROM v2, r2),
            v4 AS (SELECT w, ${bpeMergeSql("s", "r3.pa", "r3.pb")} AS s
                   FROM v3, r3),
            vt AS (SELECT w, CAST(len(string_split(trim(s, '|'), '|')) AS BIGINT) AS nt
                   FROM v4)
            SELECT w0.doc_id, CAST(SUM(vt.nt) AS BIGINT) AS n_tokens_bpe
            FROM w0 JOIN vt USING (w)
            WHERE w0.w <> ''
            GROUP BY 1 ORDER BY doc_id"""))

  /** Shared CTE chain for the WordPiece oracles: occurrence-weighted
    * corpus word counts, then the four vocabulary tiers of
    * [[graft.text.WordPiece.vocab]] — unconditional coverage singles
    * (word-initial and `##`-continuation), thresholded initial prefixes
    * of length 2..maxPrefix, thresholded continuation bigrams.
    */
  private def unigramBaseCtes(minCount: Long): String = {
    val P = graft.text.Unigram.MaxPieceLen
    val L = graft.text.Unigram.MaxWordLen
    s"""w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE len(word) > 0 GROUP BY word),
        sub0 AS (SELECT word, cnt, unnest(generate_series(1, len(word))) AS p
                 FROM w),
        sub1 AS (SELECT word, cnt, p,
                        unnest(generate_series(1, LEAST($P, len(word) - p + 1))) AS l
                 FROM sub0),
        sub AS (SELECT substr(word, p, l) AS piece, CAST(l AS INTEGER) AS plen,
                       CAST(SUM(cnt) AS BIGINT) AS c
                FROM sub1 GROUP BY 1, 2),
        keep AS (SELECT piece, plen, c FROM sub
                 WHERE plen = 1 OR c >= $minCount),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM keep),
        vocab AS MATERIALIZED (SELECT piece, plen, c,
                         CAST(ROUND(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                                    * 1000000.0) AS BIGINT) AS score_micro
                  FROM keep CROSS JOIN tot),
        dw AS MATERIALIZED (SELECT DISTINCT word FROM w),
        inr AS MATERIALIZED (SELECT word, CAST(len(word) AS INTEGER) AS n FROM dw
                WHERE len(word) <= $L)"""
  }

  /** One full Viterbi unroll against the vocabulary CTE `vocabName`:
    * lattice CTEs `b<sfx>0..16`, the recursive backpointer walk
    * `walk<sfx>`, and the per-word result `wordseg<sfx>` — so the EM
    * oracle can run the ENTIRE dynamic program twice (once under the
    * seed model, once under the refined one). Every lattice CTE is
    * MATERIALIZED: each references the previous MaxPieceLen rounds, so
    * DuckDB's default inlining expands the chain EXPONENTIALLY (b16
    * would inline thousands of documents scans — measured as fd
    * exhaustion).
    */
  private def unigramDpCtes(vocabName: String, sfx: String): String = {
    val P = graft.text.Unigram.MaxPieceLen
    val L = graft.text.Unigram.MaxWordLen
    val unk = graft.text.Unigram.UnkScoreMicro
    val b0 =
      s"""b${sfx}0 AS MATERIALIZED (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS s,
                 -1 AS bp FROM inr)"""
    val rounds = (1 to L).map { j =>
      val prior = (math.max(0, j - P) until j)
        .map(i => s"SELECT * FROM b$sfx$i").mkString(" UNION ALL ")
      s"""b$sfx$j AS MATERIALIZED (SELECT word, $j AS pos,
                 CAST((mk - (mk % 16 + 16) % 16) // 16 AS BIGINT) AS s,
                 CAST((mk % 16 + 16) % 16 AS INTEGER) AS bp
          FROM (SELECT p.word,
                       MAX((p.s + v.score_micro) * 16 + p.pos) AS mk
                FROM ($prior) p
                JOIN $vocabName v
                  ON v.plen = $j - p.pos
                 AND v.piece = substr(p.word, p.pos + 1, $j - p.pos)
                WHERE len(p.word) >= $j
                GROUP BY p.word))"""
    }
    val ballUnion = (0 to L).map(i => s"SELECT * FROM b$sfx$i").mkString(" UNION ALL ")
    val tail =
      s"""ball$sfx AS MATERIALIZED ($ballUnion),
          walk$sfx(word, pos, seg, np) AS (
            SELECT word, n AS pos, '' AS seg, CAST(0 AS BIGINT) AS np FROM inr
            UNION ALL
            SELECT wk.word, b.bp AS pos,
                   substr(wk.word, b.bp + 1, wk.pos - b.bp) ||
                     (CASE WHEN wk.seg = '' THEN '' ELSE ' ' || wk.seg END) AS seg,
                   wk.np + 1 AS np
            FROM walk$sfx wk JOIN ball$sfx b ON b.word = wk.word AND b.pos = wk.pos
            WHERE wk.pos > 0),
          segs$sfx AS MATERIALIZED (SELECT word, seg, np FROM walk$sfx WHERE pos = 0),
          fsc$sfx AS (SELECT b.word, b.s FROM ball$sfx b
                  JOIN inr i ON i.word = b.word AND b.pos = i.n),
          wordseg$sfx AS (SELECT s.word, s.seg, s.np, f.s AS score
                      FROM segs$sfx s JOIN fsc$sfx f USING (word)
                      UNION ALL
                      SELECT word, word AS seg, CAST(1 AS BIGINT) AS np,
                             CAST($unk AS BIGINT) AS score
                      FROM dw WHERE len(word) > $L)"""
    (b0 +: rounds :+ tail).mkString(",\n")
  }

  /** One Viterbi-EM refinement ([[graft.text.Unigram.refineVocab]]) in
    * CTEs: occurrence-weighted piece-usage counts over the chosen
    * segmentations (`segs<dpSfx>`), the singles coverage floor, and the
    * re-quantized scores as `vocab2`.
    */
  private def unigramEmCtes(dpSfx: String): String =
    s"""usage AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS u FROM (
                 SELECT w.cnt, unnest(string_split(sg.seg, ' ')) AS piece
                 FROM segs$dpSfx sg JOIN w USING (word))
               GROUP BY piece),
        sing AS (SELECT DISTINCT substr(word, p, 1) AS piece
                 FROM (SELECT word, unnest(generate_series(1, len(word))) AS p
                       FROM w)),
        kept2 AS (SELECT s.piece, GREATEST(COALESCE(u.u, 0), 1) AS c
                  FROM sing s LEFT JOIN usage u USING (piece)
                  UNION ALL
                  SELECT piece, u AS c FROM usage WHERE len(piece) > 1),
        tot2 AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM kept2),
        vocab2 AS MATERIALIZED (SELECT piece, CAST(len(piece) AS INTEGER) AS plen, c,
                         CAST(ROUND(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                                    * 1000000.0) AS BIGINT) AS score_micro
                  FROM kept2 CROSS JOIN tot2)"""

  /** The per-document reassembly tail shared by the encode oracles:
    * positional token explode joined to `wordseg<dpSfx>`, grouped per
    * doc.
    */
  private def unigramSelectSql(dpSfx: String): String =
    s"""tk AS (SELECT doc_id AS id, i AS idx, toks[i] AS word
               FROM (SELECT doc_id, toks,
                            unnest(generate_series(1, len(toks))) AS i
                     FROM (SELECT doc_id, string_split(text, ' ') AS toks
                           FROM documents)))
        SELECT tk.id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(ws.np) AS BIGINT) AS n_pieces,
               CAST(SUM(ws.score) AS BIGINT) AS score_micro,
               string_agg(ws.seg, ' ' ORDER BY tk.idx) AS ug_text
        FROM tk JOIN wordseg$dpSfx ws USING (word)
        WHERE len(tk.word) > 0
        GROUP BY tk.id ORDER BY id"""

  /** Unigram-LM piece vocabulary ([[graft.text.Unigram.vocab]]; Kudo
    * 2018, the SentencePiece unigram family — the third tokenizer next
    * to BPE and WordPiece): occurrence-weighted substring counts with
    * unconditional single-char coverage and micro-quantized log-prob
    * scores over the kept mass. The vocabulary table (with scores) is
    * the hash-checked result.
    */
  private val qUnigramVocab = Q(
    (s, dir) => graft.text.Unigram.vocab(
      t(s, dir, "documents"), "doc_id", "text", minCount = 50L)
      .orderBy("piece"),
    Some(s"""WITH ${unigramBaseCtes(minCount = 50L)}
            SELECT piece, CAST(plen AS INTEGER) AS plen, c, score_micro
            FROM vocab ORDER BY piece"""))

  /** Per-document unigram Viterbi encode
    * ([[graft.text.Unigram.encode]]): every word takes its
    * MAX-PROBABILITY segmentation under the corpus-derived piece model
    * (not a greedy scan — the lattice argmax), whole-word OOV fallback
    * past [[graft.text.Unigram.MaxWordLen]], and the in-order piece
    * stream plus the additive unigram-LM score reassembled per
    * document — `ug_text` itself is hash-checked. The oracle replays
    * the ENTIRE dynamic program: 16 unrolled lattice CTEs with the
    * packed argmax key, then the backpointer walk as a recursive CTE.
    */
  private val qUnigramEncode = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val v = graft.text.Unigram.vocab(d, "doc_id", "text", minCount = 50L)
      graft.text.Unigram.encode(d, "doc_id", "text", v).orderBy("id")
    },
    Some(s"""WITH RECURSIVE ${unigramBaseCtes(minCount = 50L)},
            ${unigramDpCtes("vocab", "")},
            ${unigramSelectSql("")}"""))

  /** Viterbi-EM vocabulary refinement
    * ([[graft.text.Unigram.refineVocab]]; hard EM — Kudo 2018's
    * training loop with the argmax commitment): segment every word
    * under the seed model, recount piece usage occurrence-weighted over
    * the CHOSEN segmentations, prune unused pieces (singles floor-kept
    * for coverage), re-quantize scores. The refined vocabulary table is
    * the hash-checked result — the oracle runs the whole seed DP to get
    * the segmentations the recount depends on.
    */
  private val qUnigramEm = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val v = graft.text.Unigram.vocab(d, "doc_id", "text", minCount = 50L)
      graft.text.Unigram.refineVocab(d, "doc_id", "text", v, iters = 1)
        .orderBy("piece")
    },
    Some(s"""WITH RECURSIVE ${unigramBaseCtes(minCount = 50L)},
            ${unigramDpCtes("vocab", "")},
            ${unigramEmCtes("")}
            SELECT piece, plen, c, score_micro FROM vocab2 ORDER BY piece"""))

  /** Encode under the REFINED model: the oracle replays BOTH dynamic
    * programs — the seed DP (to reproduce the usage recount) and a
    * second full unroll under the refined scores — so the gate row
    * transitively checks EM training through every document's
    * segmentation.
    *
    * The refined VOCABULARY (seed DP + recount — exactly the
    * computation [[qUnigramEm]] measures and hash-checks) is memoized
    * per session/SF via [[steadyIndex]]: a production encode loop
    * trains once and encodes many batches, so billing the seed DP to
    * every encode row double-counted the suite's #1 heaviest
    * computation (r14 verdict task). The measured query pays the
    * refined-model Viterbi encode + reassembly only; the oracle is
    * unchanged (it derives vocab2 from scratch — deterministic, so the
    * memoized table hashes identically).
    */
  private val qUnigramEncodeEm = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val vPath = steadyIndex("graft_ug_refined", dir) { p =>
        val v0 = graft.text.Unigram.vocab(d, "doc_id", "text", minCount = 50L)
        NioLocalFileSystem.write(
            graft.text.Unigram.refineVocab(d, "doc_id", "text", v0, iters = 1))
          .parquet(p)
      }
      graft.text.Unigram.encode(d, "doc_id", "text", s.read.parquet(vPath))
        .orderBy("id")
    },
    Some(s"""WITH RECURSIVE ${unigramBaseCtes(minCount = 50L)},
            ${unigramDpCtes("vocab", "")},
            ${unigramEmCtes("")},
            ${unigramDpCtes("vocab2", "e")},
            ${unigramSelectSql("e")}"""))

  /** The vocabulary-only prefix of [[unigramCtes]] (no lattice, no
    * recursion — [[qUnigramVocab]] doesn't need the DP).
    */
  private def unigramVocabOnlyCtes(minCount: Long): String = {
    val P = graft.text.Unigram.MaxPieceLen
    s"""w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE len(word) > 0 GROUP BY word),
        sub0 AS (SELECT word, cnt, unnest(generate_series(1, len(word))) AS p
                 FROM w),
        sub1 AS (SELECT word, cnt, p,
                        unnest(generate_series(1, LEAST($P, len(word) - p + 1))) AS l
                 FROM sub0),
        sub AS (SELECT substr(word, p, l) AS piece, CAST(l AS INTEGER) AS plen,
                       CAST(SUM(cnt) AS BIGINT) AS c
                FROM sub1 GROUP BY 1, 2),
        keep AS (SELECT piece, plen, c FROM sub
                 WHERE plen = 1 OR c >= $minCount),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM keep),
        vocab AS (SELECT piece, plen, c,
                         CAST(ROUND(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                                    * 1000000.0) AS BIGINT) AS score_micro
                  FROM keep CROSS JOIN tot)"""
  }

  private def wordpieceVocabCtes(maxPrefix: Int, minCount: Long): String =
    s"""w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              WHERE len(word) > 0 GROUP BY word),
       vinit1 AS (SELECT DISTINCT substr(word, 1, 1) AS piece, 1 AS plen FROM w),
       vsuf1 AS (SELECT DISTINCT '##' || substr(word, p, 1) AS piece, 1 AS plen
                 FROM (SELECT word, unnest(generate_series(2, len(word))) AS p
                       FROM w WHERE len(word) >= 2)),
       vpre AS (SELECT piece, plen FROM (
                  SELECT substr(word, 1, CAST(l AS INTEGER)) AS piece,
                         CAST(l AS INTEGER) AS plen, SUM(cnt) AS c
                  FROM w, (SELECT unnest(generate_series(2, $maxPrefix)) AS l)
                  WHERE len(word) >= l GROUP BY 1, 2)
                WHERE c >= $minCount),
       vbig AS (SELECT piece, 2 AS plen FROM (
                  SELECT '##' || substr(word, p, 2) AS piece, SUM(cnt) AS c
                  FROM (SELECT word, cnt,
                               unnest(generate_series(2, len(word) - 1)) AS p
                        FROM w WHERE len(word) >= 3)
                  GROUP BY 1)
                WHERE c >= $minCount),
       vocab AS (SELECT DISTINCT piece, plen FROM (
                   SELECT * FROM vinit1 UNION ALL SELECT * FROM vsuf1
                   UNION ALL SELECT * FROM vpre UNION ALL SELECT * FROM vbig))"""

  /** WordPiece piece-vocabulary construction ([[graft.text.WordPiece
    * .vocab]]; Schuster & Nakajima 2012 — the BERT tokenizer family,
    * the second tokenizer next to [[qBpeTrain]]'s BPE): unconditional
    * coverage singles plus occurrence-thresholded initial prefixes and
    * continuation bigrams. The vocabulary table itself is the
    * hash-checked result.
    */
  private val qWordpieceVocab = Q(
    (s, dir) => graft.text.WordPiece.vocab(
      t(s, dir, "documents"), "doc_id", "text", maxPrefix = 4, minCount = 50L)
      .orderBy("piece"),
    Some(s"""WITH ${wordpieceVocabCtes(maxPrefix = 4, minCount = 50L)}
            SELECT piece, CAST(plen AS INTEGER) AS plen
            FROM vocab ORDER BY piece"""))

  /** Per-document WordPiece encode ([[graft.text.WordPiece.encode]]):
    * greedy longest-match-first segmentation of every word against the
    * corpus-derived vocabulary, `##` continuation marking, whole-word
    * `[UNK]` fallback (the BERT rule), and the in-order piece stream
    * reassembled per document — `wp_text` itself is hash-checked. The
    * oracle replays the greedy loop as a recursive CTE over the DISTINCT
    * word set: each word's final state is emitted exactly once, when its
    * cursor passes the end (done) or no piece matches (whole-word
    * [UNK]); the longest match at each position is a correlated MAX over
    * the vocabulary, exactly [[graft.text.WordPiece.encodeWords]]'s
    * per-round max-plen join.
    */
  private val qWordpieceEncode = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val v = graft.text.WordPiece.vocab(d, "doc_id", "text",
        maxPrefix = 4, minCount = 50L)
      graft.text.WordPiece.encode(d, "doc_id", "text", v, maxWordLen = 16)
        .orderBy("id")
    },
    Some(s"""WITH RECURSIVE ${wordpieceVocabCtes(maxPrefix = 4, minCount = 50L)},
            enc(word, pos, pieces, done) AS (
              SELECT word, 1 AS pos,
                     CASE WHEN len(word) > 16 THEN '[UNK]' ELSE '' END AS pieces,
                     len(word) > 16 AS done
              FROM (SELECT DISTINCT word FROM w)
              UNION ALL
              SELECT s.word, s.pos + COALESCE(s.bl, 0) AS pos,
                     CASE WHEN s.bl IS NULL THEN '[UNK]'
                          ELSE (CASE WHEN s.pieces = '' THEN ''
                                     ELSE s.pieces || ' ' END) ||
                               (CASE WHEN s.pos = 1
                                        THEN substr(s.word, s.pos, s.bl)
                                        ELSE '##' || substr(s.word, s.pos, s.bl) END)
                     END AS pieces,
                     (s.bl IS NULL)
                       OR (s.pos + COALESCE(s.bl, 0) > len(s.word)) AS done
              FROM (SELECT e.word, e.pos, e.pieces,
                           (SELECT MAX(v.plen) FROM vocab v
                            WHERE e.pos + v.plen - 1 <= len(e.word)
                              AND v.piece = CASE WHEN e.pos = 1
                                   THEN substr(e.word, e.pos, v.plen)
                                   ELSE '##' || substr(e.word, e.pos, v.plen) END
                           ) AS bl
                    FROM enc e WHERE NOT e.done) s),
            encf AS (SELECT word, pieces,
                            CAST(len(string_split(pieces, ' ')) AS BIGINT) AS n_pieces
                     FROM enc WHERE done),
            tk AS (SELECT doc_id AS id, i AS idx, toks[i] AS word
                   FROM (SELECT doc_id, toks,
                                unnest(generate_series(1, len(toks))) AS i
                         FROM (SELECT doc_id, string_split(text, ' ') AS toks
                               FROM documents)))
            SELECT tk.id,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,
                   string_agg(e.pieces, ' ' ORDER BY tk.idx) AS wp_text
            FROM tk JOIN encf e USING (word)
            WHERE len(tk.word) > 0
            GROUP BY tk.id ORDER BY id"""))

  /** Shared oracle for the histogram-quantile-sketch queries: exact
    * integer binning of n_chars into 64 fixed bins over [0, 4096),
    * per-source cumulative counts, per-mille rank targets, and the
    * one-float-expression within-bin interpolation — term-for-term
    * [[graft.ops.QuantileSketch.quantiles]]. Serves BOTH the ad-hoc and
    * the segment-merged query: segment union is `groupBy sum`, so the
    * batch split is invisible by algebra.
    */
  private val quantileSketchSql: String =
    """WITH b AS (SELECT source,
                       LEAST(GREATEST(((CAST(n_chars AS BIGINT) - 0) * 64)
                                      // (4096 - 0), 0), 63) AS bin,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM documents GROUP BY 1, 2),
       cum AS (SELECT source, bin, n,
                      SUM(n) OVER (PARTITION BY source ORDER BY bin) AS cum,
                      SUM(n) OVER (PARTITION BY source) AS nt
               FROM b),
       qs AS (SELECT unnest([250, 500, 750, 950]) AS q_pm),
       r AS (SELECT source, q_pm, nt, bin, n, cum, cum - n AS cb,
                    (CAST(q_pm AS BIGINT) * nt + 999) // 1000 AS rk
             FROM cum CROSS JOIN qs)
       SELECT source, CAST(q_pm AS INTEGER) AS q_pm,
              CAST(nt AS BIGINT) AS n_total,
              CAST(ROUND((0.0 + (CAST(bin AS DOUBLE)
                                 + CAST(rk - cb AS DOUBLE) / CAST(n AS DOUBLE))
                                * 64.0) * 1000000.0) AS BIGINT) AS est_micro
       FROM r WHERE cum >= rk AND cb < rk
       ORDER BY source, q_pm"""

  /** Mergeable histogram quantile sketch, ad-hoc form ([[graft.ops
    * .QuantileSketch.quantileSketch]]): per-source p25/p50/p75/p95 of
    * document length over fixed [0,4096)×64 bins — integer binning and
    * ranks, one micro-quantized interpolation float. The persistable
    * complement to `approx_percentile`, whose sketch cannot be stored
    * or merged across batches.
    */
  private val qQuantileSketch = Q(
    (s, dir) => graft.ops.QuantileSketch.quantileSketch(
      t(s, dir, "documents"), Seq("source"), "n_chars",
      qsPerMille = Seq(250, 500, 750, 950), lo = 0L, hi = 4096L, nBins = 64)
      .orderBy("source", "q_pm"),
    Some(quantileSketchSql))

  /** The segment path ([[graft.ops.QuantileSketch.writeSegments]] /
    * [[graft.ops.QuantileSketch.quantilesFromSegments]]): the corpus
    * arrives as TWO batches appended as independent histogram segments,
    * quantiles read from the store — answers must equal the one-shot
    * sketch (segment union is groupBy-sum by algebra), so this shares
    * [[qQuantileSketch]]'s oracle verbatim. History is never re-scanned:
    * the read costs ≤ nBins·|keys| rows per segment.
    */
  private val qQuantileSketchSeg = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      val segPath = scratchDir("graft_quantile_seg").resolve("seg").toString
      graft.ops.QuantileSketch.writeSegments(
        d.filter(col("doc_id") < 250), Seq("source"), "n_chars",
        lo = 0L, hi = 4096L, nBins = 64, path = segPath)
      graft.ops.QuantileSketch.writeSegments(
        d.filter(col("doc_id") >= 250), Seq("source"), "n_chars",
        lo = 0L, hi = 4096L, nBins = 64, path = segPath)
      graft.ops.QuantileSketch.quantilesFromSegments(
        s, segPath, Seq("source"), qsPerMille = Seq(250, 500, 750, 950),
        lo = 0L, hi = 4096L, nBins = 64)
        .orderBy("source", "q_pm")
    },
    Some(quantileSketchSql))

  /** Mergeable heavy-hitter segments ([[graft.ops.TopKSketch]]): the
    * event stream arrives as TWO batches, each appending its exact
    * top-20 user counts plus the (k+1)-th-count error bound; the merged
    * report's [cnt_lower, cnt_upper] bracket is a theorem (stored
    * counts are exact where present, absent batches contribute at most
    * their bound). The oracle replays both batch summaries, the
    * distinct-per-batch bound bookkeeping, and the merge — all exact
    * integer arithmetic.
    */
  private val qTopkSketch = Q(
    (s, dir) => {
      val ev = Tables.readEvents(s, dir).select(col("event_id"), col("user_id"))
      val seg = graft.ops.TopKSketch.batchSummary(
        ev.filter(col("event_id") % 2 === 0), Seq.empty, "user_id", k = 20)
        .withColumn("batch_id", lit("b1"))
        .unionByName(graft.ops.TopKSketch.batchSummary(
          ev.filter(col("event_id") % 2 =!= 0), Seq.empty, "user_id", k = 20)
          .withColumn("batch_id", lit("b2")))
        // model-sized pin (≤ 2·k rows) — see q_topk_sketch_keyed
        .localCheckpoint()
      graft.ops.TopKSketch.mergedTopK(seg, Seq.empty, topN = 10)
        .orderBy(col("cnt_lower").desc, col("item"))
    },
    Some("""WITH b1 AS (SELECT user_id AS item, CAST(COUNT(*) AS BIGINT) AS cnt
                      FROM events WHERE event_id % 2 = 0 GROUP BY 1),
            r1 AS (SELECT item, cnt,
                          row_number() OVER (ORDER BY cnt DESC, item) AS rn
                   FROM b1),
            bd1 AS (SELECT COALESCE(MAX(CASE WHEN rn = 21 THEN cnt END),
                                    CAST(0 AS BIGINT)) AS bound FROM r1),
            s1 AS (SELECT item, cnt, bound, 'b1' AS batch_id
                   FROM r1 CROSS JOIN bd1 WHERE rn <= 20),
            b2 AS (SELECT user_id AS item, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM events WHERE event_id % 2 <> 0 GROUP BY 1),
            r2 AS (SELECT item, cnt,
                          row_number() OVER (ORDER BY cnt DESC, item) AS rn
                   FROM b2),
            bd2 AS (SELECT COALESCE(MAX(CASE WHEN rn = 21 THEN cnt END),
                                    CAST(0 AS BIGINT)) AS bound FROM r2),
            s2 AS (SELECT item, cnt, bound, 'b2' AS batch_id
                   FROM r2 CROSS JOIN bd2 WHERE rn <= 20),
            seg AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
            tb AS (SELECT CAST(SUM(bound) AS BIGINT) AS total
                   FROM (SELECT DISTINCT batch_id, bound FROM seg)),
            pi AS (SELECT item, CAST(SUM(cnt) AS BIGINT) AS cnt_lower,
                          CAST(SUM(bound) AS BIGINT) AS pb
                   FROM seg GROUP BY 1)
            SELECT item, cnt_lower,
                   cnt_lower + total - pb AS cnt_upper
            FROM pi CROSS JOIN tb
            ORDER BY cnt_lower DESC, item LIMIT 10"""))

  /** Streaming sketch maintenance ([[graft.streaming.SketchIngest]]):
    * the corpus arrives as a STREAM whose micro-batches each append a
    * batch_id-keyed quantile-histogram segment (the [[graft.ops
    * .Segments]] exactly-once convention); quantiles read from the
    * stored segments. Histogram merge is sum with FIXED bin edges, so
    * the result is invariant to how the stream was cut into batches —
    * this query shares [[qQuantileSketch]]'s one-shot oracle VERBATIM,
    * which is the invariance proof.
    */
  private lazy val qStreamQuantile = Q(
    (s, dir) => {
      val tmp = scratchDir("graft_stream_quantile")
      val seg = tmp.resolve("seg").toString
      val ckpt = tmp.resolve("ckpt").toString
      val q = graft.streaming.SketchIngest.startQuantile(
        Tables.readTableStream(s, dir, "documents")
          .select(col("source"), col("n_chars")),
        seg, ckpt, Seq("source"), "n_chars", lo = 0L, hi = 4096L, nBins = 64)
      q.awaitTermination()
      graft.ops.QuantileSketch.quantilesFromSegments(
        s, seg, Seq("source"), qsPerMille = Seq(250, 500, 750, 950),
        lo = 0L, hi = 4096L, nBins = 64)
        .orderBy("source", "q_pm")
    },
    Some(quantileSketchSql))

  /** Streaming covariance/PCA maintenance ([[graft.streaming
    * .SketchIngest.startMoments]]): the embedding corpus arrives as a
    * STREAM whose micro-batches each append a batch_id-keyed raw-moment
    * segment; the principal component is then trained from the stored
    * segments alone. Moment merge is sum, so the result is invariant to
    * the micro-batch cut — this query shares [[qPcaPower]]'s one-shot
    * oracle VERBATIM, re-checking the full fixed-point training through
    * a streamed, disk-persisted moment table.
    */
  private lazy val qStreamPca = Q(
    (s, dir) => {
      val tmp = scratchDir("graft_stream_pca")
      val seg = tmp.resolve("seg").toString
      val ckpt = tmp.resolve("ckpt").toString
      val q = graft.streaming.SketchIngest.startMoments(
        Tables.readTableStream(s, dir, "embeddings")
          .select(col("embedding")),
        seg, ckpt, dim = 64)
      q.awaitTermination()
      graft.similarity.Pca.momentComponentDf(s, seg, dim = 64)
        .orderBy("pos")
    },
    Some(s"""WITH ${pcaCtes(scaleBits = 18, iters = 12)}
            SELECT CAST(dim AS INTEGER) AS pos, CAST(vfx * sg AS BIGINT) AS loading_fx
            FROM it12, sgn ORDER BY pos"""))

  /** Streaming drift monitoring ([[graft.streaming.SketchIngest
    * .startMoments]] → [[graft.similarity.Pca.embeddingDrift]]): TWO
    * corpus epochs (vec_id parity halves) arrive as separate moment-
    * segment STREAMS into ONE segment table, the second at a disjoint
    * `batchIdOffset` range — and the drift monitor reads each epoch as
    * a batch_id RANGE filter on the shared table. Shares
    * [[qEmbedDrift]]'s oracle VERBATIM: the z table must be invariant
    * to each epoch's micro-batch cut (sum-merge algebra) AND to living
    * in a shared segment table instead of two private ones.
    */
  private lazy val qStreamDrift = Q(
    (s, dir) => {
      val tmp = scratchDir("graft_stream_drift")
      val seg = tmp.resolve("seg").toString
      val offset = 1L << 20 // epoch B's batch_id range: [2^20, …)
      def epoch(pred: Column, ckpt: String, off: Long) =
        graft.streaming.SketchIngest.startMoments(
          Tables.readTableStream(s, dir, "embeddings")
            .filter(pred).select(col("embedding")),
          seg, tmp.resolve(ckpt).toString, dim = 64, batchIdOffset = off)
      // the two epoch drains are INDEPENDENT (disjoint batch_id ranges,
      // own checkpoints) — start both, then await both, so epoch B's
      // work back-fills executors idled by epoch A's tail instead of
      // paying two serial stream startups (guide §2.6).
      // Committer assumption: two dynamic-overwrite writes into one root
      // are safe together because each job stages under its own
      // `.spark-staging-<jobId>` directory and, at commit, replaces only
      // the `batch_id` partitions it wrote, which are disjoint here.
      // SegmentsSpec pins it: concurrent batch-keyed `Segments.writer`
      // writes into one root keep both batches and leave no staging or
      // `_temporary` directory behind.
      val qa = epoch(col("vec_id") % 2 === 0, "ckptA", 0L)
      val qb = epoch(col("vec_id") % 2 =!= 0, "ckptB", offset)
      qa.awaitTermination(); qb.awaitTermination()
      val all = s.read.parquet(seg)
      graft.similarity.Pca.embeddingDrift(
        all.filter(col("batch_id") < offset),
        all.filter(col("batch_id") >= offset), dim = 64)
        .orderBy("pos")
    },
    qEmbedDrift.oracle)

  /** Streaming KMV maintenance ([[graft.streaming.SketchIngest
    * .startKmv]]): the event feed appends batch_id-keyed bottom-k
    * segments; the distinct estimate reads the stored segments.
    * Bottom-k-of-union ≡ union-of-bottom-ks (selection algebra), so
    * this query shares [[qKmvDistinct]]'s one-shot oracle VERBATIM —
    * the split-invariance proof, same contract as the other four
    * streamed sketch families.
    */
  private lazy val qStreamKmv = Q(
    (s, dir) => {
      val tmp = scratchDir("graft_stream_kmv")
      val seg = tmp.resolve("seg").toString
      val ckpt = tmp.resolve("ckpt").toString
      val q = graft.streaming.SketchIngest.startKmv(
        Tables.readTableStream(s, dir, "events")
          .select(col("event_type"), col("user_id")),
        seg, ckpt, Seq("event_type"), "user_id", k = 64)
      q.awaitTermination()
      graft.ops.Kmv.estimateFromSegments(s, seg, Seq("event_type"), k = 64)
        .orderBy("event_type")
    },
    Some(kmvEventsSql))

  /** KEYED heavy-hitter segments ([[graft.ops.TopKSketch]] with
    * keyCols): per-source top tokens with per-(source, batch) bounds —
    * the per-key window path of the sketch (the global path is
    * [[qTopkSketch]]). Oracle replays the per-source ranking, bound
    * bookkeeping and merge.
    */
  private val qTopkSketchKeyed = Q(
    (s, dir) => {
      import graft.text.TextAnalysis.tokens
      val toks = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(tokens(col("text"))).as("tok"))
      val seg = graft.ops.TopKSketch.batchSummary(
        toks.filter(col("doc_id") % 2 === 0), Seq("source"), "tok", k = 5)
        .withColumn("batch_id", lit("b1"))
        .unionByName(graft.ops.TopKSketch.batchSummary(
          toks.filter(col("doc_id") % 2 =!= 0), Seq("source"), "tok", k = 5)
          .withColumn("batch_id", lit("b2")))
        // model-sized pin (≤ 2·k·|sources| rows): mergedTopK consumes
        // the segments twice (bounds + per-item sums) — unpinned, both
        // batch summaries re-run their corpus pass per consumer (the
        // before-plan scanned documents 8×; guide §2.4)
        .localCheckpoint()
      graft.ops.TopKSketch.mergedTopK(seg, Seq("source"), topN = 3)
        .orderBy(col("source"), col("cnt_lower").desc, col("item"))
    },
    Some("""WITH tk AS (SELECT source, doc_id,
                             unnest(string_split(text, ' ')) AS item
                      FROM documents),
            c1 AS (SELECT source, item, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM tk WHERE doc_id % 2 = 0 GROUP BY 1, 2),
            r1 AS (SELECT source, item, cnt, row_number() OVER (
                     PARTITION BY source ORDER BY cnt DESC, item) AS rn
                   FROM c1),
            bd1 AS (SELECT source,
                           COALESCE(MAX(CASE WHEN rn = 6 THEN cnt END),
                                    CAST(0 AS BIGINT)) AS bound
                    FROM r1 GROUP BY source),
            s1 AS (SELECT r1.source, item, cnt, bound, 'b1' AS batch_id
                   FROM r1 JOIN bd1 USING (source) WHERE rn <= 5),
            c2 AS (SELECT source, item, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM tk WHERE doc_id % 2 <> 0 GROUP BY 1, 2),
            r2 AS (SELECT source, item, cnt, row_number() OVER (
                     PARTITION BY source ORDER BY cnt DESC, item) AS rn
                   FROM c2),
            bd2 AS (SELECT source,
                           COALESCE(MAX(CASE WHEN rn = 6 THEN cnt END),
                                    CAST(0 AS BIGINT)) AS bound
                    FROM r2 GROUP BY source),
            s2 AS (SELECT r2.source, item, cnt, bound, 'b2' AS batch_id
                   FROM r2 JOIN bd2 USING (source) WHERE rn <= 5),
            seg AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
            tb AS (SELECT source, CAST(SUM(bound) AS BIGINT) AS total
                   FROM (SELECT DISTINCT source, batch_id, bound FROM seg)
                   GROUP BY source),
            pi AS (SELECT source, item, CAST(SUM(cnt) AS BIGINT) AS cnt_lower,
                          CAST(SUM(bound) AS BIGINT) AS pb
                   FROM seg GROUP BY 1, 2),
            rep AS (SELECT pi.source, item, cnt_lower,
                           cnt_lower + tb.total - pb AS cnt_upper,
                           row_number() OVER (PARTITION BY pi.source
                             ORDER BY cnt_lower DESC, item) AS rn
                    FROM pi JOIN tb USING (source))
            SELECT source, item, cnt_lower, cnt_upper
            FROM rep WHERE rn <= 3
            ORDER BY source, cnt_lower DESC, item"""))

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------

  private val registry: Vector[(String, Q)] = Vector(
    "q_s1_scan_filter" -> qS1,
    "q_s2_scan_recursive" -> qS2,
    "q_s3_scan_catalog" -> qS3,
    "q_f1_notnull_filter" -> qF1,
    "q_p1_project_rename" -> qP1,
    "q_a1_nonnull_counts" -> qA1,
    "q_p2_prune_allnull" -> qP2,
    "q_c3_comma_decimal" -> qC3,
    "q_c4_digit_strip" -> qC4,
    "q_n1_fill_defaults" -> qN1,
    "q_n2_sentinel_date" -> qN2,
    "q_d1_distinct" -> qD1,
    "q_d2_dedup_keep_first" -> qD2,
    "q_w1_rolling_avg" -> qW1,
    "q_w2_group_total_window" -> qW2,
    "q_w3_rank_rownumber" -> qW3,
    "q_w4_initial_date" -> qW4,
    "q_w5_rolling_stats" -> qW5,
    "q_agg_groupby" -> qAgg1,
    "q_join_revenue_by_segment" -> qJoin1,
    "q_topk_orders" -> qTopK,
    "q_pipeline_refined" -> qPipeline,
    "q_setops" -> qSetOps,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_lag_lead" -> qLagLead,
    "q_range_frame" -> qRangeFrame,
    "q_range_join" -> qRangeJoin,
    "q_rank_features" -> qRankFeatures,
    "q_pivot" -> qPivot,
    "q_explode_pos" -> qExplode,
    "q_sample_per_key" -> qSamplePerKey,
    "q_sample_weighted" -> qSampleWeighted,
    "q_sample_stratified" -> qSampleStratified,
    "q_token_budget" -> qTokenBudget,
    "q_text_stats" -> qTextStats,
    "q_text_quality" -> qTextQuality,
    "q_lang_id" -> qLangId,
    "q_fingerprint" -> qFingerprint,
    "q_dedup_exact" -> qDedupExact,
    "q_trainset_build" -> qTrainset,
    "q_decontaminate" -> qDecontaminate,
    "q_decontam_fuzzy" -> qDecontamFuzzy,
    "q_decontam_fuzzy_removed" -> qDecontamFuzzyRemoved,
    "q_decontam_fuzzy_indexed" -> qDecontamFuzzyIndexed,
    "q_decontam_fuzzy_steady" -> qDecontamFuzzySteady,
    "q_decontam_chunked" -> qDecontamChunked,
    "q_decontam_chunked_steady" -> qDecontamChunkedSteady,
    "q_dedup_simhash_incremental" -> qSimHashIncremental,
    "q_decontaminate_bloom" -> qDecontaminateBloom,
    "q_decontaminate_removed" -> qDecontaminateRemoved,
    "q_frame_sample" -> qFrameSample,
    "q_repetition" -> qRepetition,
    "q_repetition_gate" -> qRepetitionGate,
    "q_normalize" -> qNormalize,
    "q_token_histogram" -> qTokenHistogram,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_vocabulary" -> qVocabulary,
    "q_group_quantiles" -> qGroupQuantiles,
    "q_pii_scrub" -> qPiiScrub,
    "q_chunk_windows" -> qChunk,
    "q_pack_bins" -> qPackBins,
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_dedup_minhash_lsh" -> qMinHash,
    "q_dup_clusters" -> qDupClusters,
    "q_dup_clusters_incremental" -> qDupClustersIncremental,
    "q_stream_dup_clusters" -> qStreamDupClusters,
    "q_dup_clusters_star" -> qDupClustersStar,
    "q_dedup_simhash" -> qSimHash,
    "q_ann_bruteforce_topk" -> qAnnBrute,
    "q_ann_lsh_topk" -> qAnnLsh,
    "q_ann_retrieval_topk" -> qAnnRetrieval,
    "q_ann_ivf_topk" -> qAnnIvf,
    "q_ann_ivf_indexed" -> qAnnIvfIndexed,
    "q_ann_ivf_steady" -> qAnnIvfSteady,
    "q_embed_neardup" -> qEmbedNearDup,
    "q_embed_neardup_incremental" -> qEmbedNearDupIncremental,
    "q_embed_neardup_indexed" -> qEmbedNearDupIndexed,
    "q_embed_neardup_steady" -> qEmbedNearDupSteady,
    "q_decontam_semantic" -> qDecontamSemantic,
    "q_decontam_semantic_removed" -> qDecontamSemanticRemoved,
    "q_decontam_semantic_indexed" -> qDecontamSemanticIndexed,
    "q_decontam_semantic_steady" -> qDecontamSemanticSteady,
    "q_decontam_matrix" -> qDecontamMatrix,
    "q_stream_embed_clusters" -> qStreamEmbedClusters,
    "q_stream_embed_clusters_steady" -> qStreamEmbedClustersSteady,
    "q_semantic_dedup" -> qSemanticDedup,
    "q_pq_encode" -> qPqEncode,
    "q_ann_pq" -> qAnnPq,
    "q_multimodal_meta" -> qMultimodal,
    "q_bmp_decode" -> qBmpDecode,
    "q_bmp_resize" -> qBmpResize,
    "q_image_ahash" -> qImageAHash,
    "q_image_phash" -> qImagePHash,
    "q_image_dual_hash" -> qImageDualHash,
    "q_video_hashes" -> qVideoHashes,
    "q_video_neardup" -> qVideoNearDup,
    "q_video_phash" -> qVideoPHash,
    "q_video_neardup_phash" -> qVideoNearDupPHash,
    "q_video_mjpeg" -> qVideoMjpeg,
    "q_video_dib" -> qVideoDib,
    "q_video_mjpeg_neardup" -> qVideoMjpegNearDup,
    "q_video_mp4" -> qVideoMp4,
    "q_video_mixed_neardup" -> qVideoMixedNearDup,
    "q_video_coverage" -> qVideoCoverage,
    "q_media_meta" -> qMediaMeta,
    "q_media_meta_containers" -> qMediaMetaContainers,
    "q_media_meta_m4a" -> qMediaMetaM4a,
    "q_media_meta_webp" -> qMediaMetaWebp,
    "q_media_meta_apng" -> qMediaMetaApng,
    "q_media_meta_images" -> qMediaMetaImages,
    "q_media_meta_tiffpages" -> qMediaMetaTiffPages,
    "q_video_apng" -> qVideoApng,
    "q_image_ahash_jpeg" -> qImageAHashJpeg,
    "q_image_ahash_tiff" -> qImageAHashTiff,
    "q_image_ahash_tiff_j" -> qImageAHashTiffJ,
    "q_image_ahash_tiff_c" -> qImageAHashTiffC,
    "q_image_ahash_tiff_t" -> qImageAHashTiffT,
    "q_image_ahash_ico" -> qImageAHashIco,
    "q_image_ahash_bmp_x" -> qImageAHashBmpX,
    "q_image_ahash_pnm" -> qImageAHashPnm,
    "q_image_ahash_qoi" -> qImageAHashQoi,
    "q_image_coverage" -> qImageCoverage,
    "q_image_neardup" -> qImageNearDup,
    "q_audio_fingerprint" -> qAudioFingerprint,
    "q_audio_spectral" -> qAudioSpectral,
    "q_audio_fingerprint_flac" -> qAudioFingerprintFlac,
    "q_audio_fingerprint_mulaw" -> qAudioFingerprintMulaw,
    "q_audio_fingerprint_alaw" -> qAudioFingerprintAlaw,
    "q_audio_fingerprint_adpcm" -> qAudioFingerprintAdpcm,
    "q_audio_fingerprint_pcm_widths" -> qAudioFingerprintPcmWidths,
    "q_audio_fingerprint_float" -> qAudioFingerprintFloat,
    "q_audio_fingerprint_oggflac" -> qAudioFingerprintOggFlac,
    "q_audio_fingerprint_msadpcm" -> qAudioFingerprintMsAdpcm,
    "q_audio_fingerprint_au" -> qAudioFingerprintAu,
    "q_audio_fingerprint_aiff" -> qAudioFingerprintAiff,
    "q_audio_coverage" -> qAudioCoverage,
    "q_wav_decode" -> qWavDecode,
    "q_wav_frames" -> qWavFrames,
    "q_sessionize" -> qSessionize,
    "q_json_extract" -> qJson,
    "q_asof_join" -> qAsOf,
    "q_resample_daily" -> qResample,
    "q_median_exact" -> qMedianExact,
    "q_median_window" -> qMedianWindow,
    "q_range_join_keyed" -> qRangeJoinKeyed,
    "q_split_assign" -> qSplitAssign,
    "q_group_split" -> qGroupSplit,
    "q_split_neardup_safe" -> qSplitNearDupSafe,
    "q_dup_aware_weights" -> qDupAwareWeights,
    "q_attribution" -> qAttribution,
    "q_mix_temperature" -> qMixTemperature,
    "q_dup_canonical" -> qDupCanonical,
    "q_quantile_gate" -> qQuantileGate,
    "q_tfidf_topterms" -> qTfidf,
    "q_pmi_bigrams" -> qPmiBigrams,
    "q_kmeans_step" -> qKmeansStep,
    "q_pca_power" -> qPcaPower,
    "q_pca_project" -> qPcaProject,
    "q_pca_incremental" -> qPcaIncremental,
    "q_embed_drift" -> qEmbedDrift,
    "q_embed_corr" -> qEmbedCorr,
    "q_hll_distinct" -> qHllDistinct,
    "q_hll_incremental" -> qHllIncremental,
    "q_kmv_distinct" -> qKmvDistinct,
    "q_kmv_sample" -> qKmvSample,
    "q_kmv_incremental" -> qKmvIncremental,
    "q_hll_overlap" -> qHllOverlap,
    "q_rolling_active" -> qRollingActive,
    "q_chunk_dedup" -> qChunkDedup,
    "q_substr_spans" -> qSubstrSpans,
    "q_dataset_fingerprint" -> qDatasetFingerprint,
    "q_snapshot_diff" -> qSnapshotDiff,
    "q_compaction_plan" -> qCompactionPlan,
    "q_zone_prune" -> qZonePrune,
    "q_bpe_merges" -> qBpeMerges,
    "q_winnow" -> qWinnow,
    "q_winnow_fast" -> qWinnowFast,
    "q_cdc_chunks" -> qCdcChunks,
    "q_ann_ivf_trained" -> qAnnIvfTrained,
    "q_bm25_topk" -> qBm25,
    "q_bm25_indexed" -> qBm25Indexed,
    "q_bm25_steady" -> qBm25Steady,
    "q_bm25_deleted" -> qBm25Deleted,
    "q_bm25_deleted_steady" -> qBm25DeletedSteady,
    "q_hybrid_rrf" -> qHybridRrf,
    "q_dedup_lsh_incremental" -> qDedupLshIncremental,
    "q_merge_upsert" -> qMergeUpsert,
    "q_scd2_apply" -> qScd2Apply,
    "q_boilerplate" -> qBoilerplate,
    "q_lm_score" -> qLmScore,
    "q_lm_kneser_ney" -> qLmKneserNey,
    "q_jsonl_roundtrip" -> qJsonlRoundtrip,
    "q_csv_roundtrip" -> qCsvRoundtrip,
    "q_orc_roundtrip" -> qOrcRoundtrip,
    "q_quality_audit" -> qQualityAudit,
    "q_epoch_order" -> qEpochOrder,
    "q_funnel" -> qFunnel,
    "q_anomaly" -> qAnomaly,
    "q_token_entropy" -> qTokenEntropy,
    "q_retention" -> qRetention,
    "q_text_normalize" -> qTextNormalize,
    "q_funnel_summary" -> qFunnelSummary,
    "q_agg_upsert" -> qAggUpsert,
    "q_neg_sample" -> qNegSample,
    "q_zorder" -> qZOrder,
    "q_correlation" -> qCorrelation,
    "q_source_overlap" -> qSourceOverlap,
    "q_url_canonical" -> qUrlCanonical,
    "q_domain_cap" -> qDomainCap,
    "q_url_dedup" -> qUrlDedup,
    "q_para_dedup" -> qParaDedup,
    "q_para_profile" -> qParaProfile,
    "q_linear_train" -> qLinearTrain,
    "q_linear_score" -> qLinearScore,
    "q_logistic_train" -> qLogisticTrain,
    "q_logistic_score" -> qLogisticScore,
    "q_logistic_sweep" -> qLogisticSweep,
    "q_nb_train" -> qNbTrain,
    "q_nb_score" -> qNbScore,
    "q_nb_score_holdout" -> qNbScoreHoldout,
    "q_curation_disposition" -> qCurationDisposition,
    "q_curation_bloom" -> qCurationBloom,
    "q_curation_funnel" -> qCurationFunnel,
    "q_fuzzy_link" -> qFuzzyLink,
    "q_triangles" -> qTriangles,
    "q_decayed_sum" -> qDecayedSum,
    "q_mad" -> qMad,
    "q_quantize_int8" -> qQuantizeInt8,
    "q_clustering" -> qClustering,
    "q_pagerank" -> qPageRank,
    "q_stream_window_stats" -> qStreamWindowStats,
    "q_cdc_latest" -> qCdcLatest,
    "q_stream_sessionize" -> qStreamSessionize,
    "q_stream_sessionize_tws" -> qStreamSessionizeTws,
    "q_stream_attribution" -> qStreamAttribution,
    "q_cms_topk" -> qCmsTopk,
    "q_ann_ivfpq" -> qAnnIvfPq,
    "q_ann_ivfpq_indexed" -> qAnnIvfPqIndexed,
    "q_ann_ivfpq_steady" -> qAnnIvfPqSteady,
    "q_ann_ivfpq_refined" -> qAnnIvfPqRefined,
    "q_winsorize" -> qWinsorize,
    "q_png_decode" -> qPngDecode,
    "q_png_alpha" -> qPngAlpha,
    "q_png_16bit" -> qPng16,
    "q_png_interlaced" -> qPngInterlaced,
    "q_dsir_weights" -> qDsirWeights,
    "q_source_kl" -> qSourceKl,
    "q_ann_recall" -> qAnnRecall,
    "q_stream_dedup" -> qStreamDedup,
    "q_setsim_join" -> qSetSimJoin,
    "q_bpe_train" -> qBpeTrain,
    "q_bpe_encode" -> qBpeEncode,
    "q_wordpiece_vocab" -> qWordpieceVocab,
    "q_wordpiece_encode" -> qWordpieceEncode,
    "q_unigram_vocab" -> qUnigramVocab,
    "q_unigram_encode" -> qUnigramEncode,
    "q_unigram_em" -> qUnigramEm,
    "q_unigram_encode_em" -> qUnigramEncodeEm,
    "q_quantile_sketch" -> qQuantileSketch,
    "q_quantile_sketch_seg" -> qQuantileSketchSeg,
    "q_topk_sketch" -> qTopkSketch,
    "q_topk_sketch_keyed" -> qTopkSketchKeyed,
    "q_stream_quantile" -> qStreamQuantile,
    "q_stream_pca" -> qStreamPca,
    "q_stream_drift" -> qStreamDrift,
    "q_stream_kmv" -> qStreamKmv,
    "q_pack_render" -> qPackRender,
    "q_gif_decode" -> qGifDecode,
    "q_jpeg_decode" -> qJpegDecode,
    "q_jpeg_progressive" -> qJpegProgressive,
    "q_jpeg_12bit" -> qJpeg12bit,
    "q_phrase_search" -> qPhraseSearch,
    "q_bitext_mine" -> qBitextMine,
    "q_dup_span_ranges" -> qDupSpanRanges,
    "q_stream_neardup" -> qStreamNearDup,
    "q_stream_neardup_steady" -> qStreamNearDupSteady,
    "q_stream_decontam" -> qStreamDecontam,
    "q_stream_decontam_semantic" -> qStreamDecontamSemantic,
    "q_stream_image_dedup" -> qStreamImageDedup,
    "q_stream_image_dedup_steady" -> qStreamImageDedupSteady,
    "q_stream_audio_dedup" -> qStreamAudioDedup,
    "q_stream_audio_dedup_steady" -> qStreamAudioDedupSteady,
    "q_stream_media_meta" -> qStreamMediaMeta,
    "q_stream_bm25_ingest" -> qStreamBm25Ingest,
    "q_dup_spans_removed" -> qDupSpansRemoved,
    "q_multi_phrase" -> qMultiPhrase,
    "q_multi_phrase_sweep" -> qMultiPhraseSweep,
    "q_dedup_lsh_indexed" -> qDedupLshIndexed,
    "q_dedup_lsh_erased" -> qDedupLshErased,
    "q_dedup_near_filter" -> qDedupNearFilter,
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the reference's full refined-pipeline chain.
    */
  def entry(spark: SparkSession): DataFrame =
    qPipeline.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, Q(_, Some(sql))) => n -> sql.stripMargin }.toMap
}
