package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans of selected queries so plan
  * regressions (lost pushdown, extra exchanges, missed broadcast) are
  * visible. Run: sbt "runMain graft.tools.ExplainAudit [queryName...]"
  *
  * `--summary` audits the WHOLE registry instead: for every query it
  * builds the plan at sf0.001 and prints one line with the per-table
  * parquet scan counts — the branch-recompute smell test (a plan
  * scanning one table >3 times usually recomputes a shared chain per
  * consumer; the round-10 trainset and round-12 curation regressions
  * were both this class). Queries whose fn runs eager side work (index
  * writes, stream drains, localCheckpoints) execute it at fixture
  * scale; their final plan then legitimately reads the materialized
  * artifacts, so the audit sees what steady-state consumers see.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4, 4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    if (args.headOption.contains("--summary")) runSummary(spark, dir)
    else {
      val names = if (args.nonEmpty) args.toSeq
        else Seq("q_s1_scan_filter", "q_join_revenue_by_segment",
          "q_w5_rolling_stats", "q_pipeline_refined", "q_agg_groupby")
      names.foreach { n =>
        println(s"\n========== $n ==========")
        println(graft.SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }

  /** Per-table scan counts from a formatted plan: every `Scan parquet`
    * node's Location line names the path; group by last path segment.
    */
  private def scanCounts(plan: String): Map[String, Int] = {
    val loc = raw"InMemoryFileIndex(?:\([0-9]+ paths\))?\s*\[([^,\]]+)".r
    loc.findAllMatchIn(plan)
      .map(_.group(1).split('/').filter(_.nonEmpty).takeRight(2).mkString("/"))
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
  }

  private def runSummary(spark: SparkSession, dir: String): Unit = {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    var flagged = 0
    names.foreach { n =>
      val line =
        try {
          val df = graft.SparkEntry.queries(n)(spark, dir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val counts = scanCounts(plan)
          val worst = counts.values.maxOption.getOrElse(0)
          val flag = if (worst > 3) { flagged += 1; " FLAG" } else ""
          val top = counts.toSeq.sortBy(-_._2).take(3)
            .map { case (t, c) => s"$t:$c" }.mkString(" ")
          f"[audit] $n%-28s maxScans=$worst%2d $top$flag"
        } catch {
          case e: Exception => s"[audit] $n%-28s ERROR ${e.getClass.getSimpleName}: ${e.getMessage.take(80)}"
        }
      println(line)
    }
    println(s"[audit] done: ${names.size} queries, $flagged flagged (>3 scans of one table)")
  }
}
