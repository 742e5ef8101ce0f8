package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ShareWindowExchange optimizer rule, exercised through a session
  * built with GraftExtensions (its own session — extensions are fixed at
  * build time).
  */
class ShareWindowExchangeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // getOrCreate reuses a live default session and silently drops
    // extensions — clear both handles so the factory really constructs a
    // session with GraftExtensions (the SparkContext itself is shared).
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.local(4, 4)
    prevDefault.foreach(SparkSession.setDefaultSession)
    s
  }

  private def stackedWindows(s: SparkSession) = {
    import s.implicits._
    val df = s.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // inner window on (suppkey, orderkey); outer on (suppkey) — subset
    df.withColumn("rn", row_number().over(
        Window.partitionBy($"l_suppkey", $"l_orderkey")
          .orderBy($"l_linenumber", $"l_partkey")))
      .filter($"rn" === 1)
      .withColumn("total", sum($"l_quantity").over(Window.partitionBy($"l_suppkey")))
  }

  test("stacked subset-key windows collapse to one hash exchange") {
    val plan = stackedWindows(spark).queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx === 1, s"rule must leave a single exchange:\n$plan")
  }

  /** Extension-FREE control session (the shared SparkTestBase session now
    * carries GraftExtensions like Verify/Bench, so the no-rule baseline
    * must be built explicitly).
    */
  private lazy val bare: SparkSession = {
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-bare-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    prevDefault.foreach(SparkSession.setDefaultSession)
    s
  }

  test("rule preserves results exactly (vs extension-free session)") {
    val withRule = stackedWindows(spark)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "total")
      .orderBy("l_suppkey", "l_orderkey")
      .collect().toSeq
    val without = stackedWindows(bare)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "total")
      .orderBy("l_suppkey", "l_orderkey")
      .collect().toSeq
    assert(withRule === without)
    // and the control really is rule-free: two exchanges survive there
    val barePlan = stackedWindows(bare).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(barePlan).size === 2,
      s"control session must not run the rule:\n$barePlan")
  }

  test("an existing hand-written repartition under a Project is not doubled") {
    import spark.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartition($"l_suppkey")
      .withColumn("x", $"l_quantity" * 2) // Project between repartition and windows
      .withColumn("rn", row_number().over(
        Window.partitionBy($"l_suppkey", $"l_orderkey")
          .orderBy($"l_linenumber", $"l_partkey")))
      .filter($"rn" === 1)
      .withColumn("total", sum($"x").over(Window.partitionBy($"l_suppkey")))
    val plan = df.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx === 1, s"rule must not add a second shuffle:\n$plan")
  }

  test("disjoint-key windows are left alone") {
    import spark.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumn("a", sum($"l_quantity").over(Window.partitionBy($"l_suppkey")))
      .withColumn("b", sum($"l_quantity").over(Window.partitionBy($"l_partkey")))
    val plan = df.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx === 2, s"no subset relation → both exchanges stay:\n$plan")
  }
}
