package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Cost-attribution probe for q_stream_attribution — the bench suite's
  * most expensive row (5.9 s at sf0.1, ~23× the `stream_noop` engine
  * constant). Hypotheses to separate:
  *
  *   1. TWO stream setups (every other q_stream_* row has one);
  *   2. per-micro-batch state-store machinery scaling with
  *      `spark.sql.shuffle.partitions` — a stream-stream join keeps
  *      state-store instances per shuffle partition PER SIDE, and every
  *      micro-batch pays a commit per instance regardless of row count;
  *   3. genuine join work (it is the only stream-stream JOIN row).
  *
  * The probe runs the exact gate query at several shuffle-partition
  * settings (the state-partition count is fixed at the checkpoint's
  * first run, so each setting gets a fresh query) and prints wall time
  * plus the engine's own breakdown from `lastProgress`: micro-batch
  * count, addBatch/getBatch/walCommit/stateStore durations, state rows.
  *
  * usage: StreamAttributionProbe <sfDir> [partitions,partitions,...]
  */
object StreamAttributionProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val settings = args.drop(1).headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(8, 4, 1))
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt,
      settings.head) // `once` sets each setting in turn

    def once(nPart: Int, tag: String): Unit = {
      spark.conf.set("spark.sql.shuffle.partitions", nPart.toString)
      val views = Tables.readEventsStream(spark, dir)
        .filter(col("event_type") === "view")
      val purchases = Tables.readEventsStream(spark, dir)
        .filter(col("event_type") === "purchase")
      val t0 = System.nanoTime()
      val q = graft.streaming.EventStreams.attributionJoin(views, purchases)
        .writeStream.outputMode("append").format("memory")
        .queryName(s"probe_attr_$tag")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val n = spark.table(s"probe_attr_$tag").count()
      val progresses = q.recentProgress.toSeq
      println(f"[probe] partitions=$nPart%-3d wall=$wall%6.2fs rows=$n batches=${progresses.size}")
      progresses.foreach { p =>
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(-1L)
        val st = p.stateOperators.toSeq.map(s =>
          s"rows=${s.numRowsTotal} commit=${s.commitTimeMs}ms mem=${s.memoryUsedBytes}")
        println(s"  batch=${p.batchId} in=${p.numInputRows} " +
          s"addBatch=${ms("addBatch")}ms getBatch=${ms("getBatch")}ms " +
          s"latestOffset=${ms("latestOffset")}ms queryPlanning=${ms("queryPlanning")}ms " +
          s"walCommit=${ms("walCommit")}ms commitOffsets=${ms("commitOffsets")}ms " +
          s"state=[${st.mkString("; ")}]")
      }
    }

    // warmup: pay one-time session/codegen costs outside the readings
    once(settings.head, "warm")
    settings.zipWithIndex.foreach { case (p, i) => once(p, s"r$i") }
    spark.stop()
  }
}
