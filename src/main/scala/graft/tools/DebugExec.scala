package graft.tools


/** Dev scratch: execute a registry query and print its FINAL adaptive
  * plan — shows runtime stage reuse (ReusedExchange/ReusedShuffle) that
  * the static explain cannot.
  */
object DebugExec {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(8, 8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
    val df = graft.SparkEntry.queries(args(0))(spark, dir)
    df.collect()
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
