package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (spark_guide.md: lazy val, local). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Data-file count per LEAF partition directory of a (possibly
    * nested) `key=value`-partitioned parquet table — the write-fan-out
    * hygiene probe: a correctly `repartition(partitionCol)`-ed write
    * leaves ≈1 file per leaf, a naive one leaves tasks × leaves.
    */
  def leafFileCounts(dir: String): Map[String, Int] = {
    def walk(d: java.io.File, prefix: String): Seq[(String, Int)] = {
      val entries = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      val subParts = entries.filter(e => e.isDirectory && e.getName.contains("="))
      if (subParts.nonEmpty)
        subParts.flatMap(s => walk(s, s"$prefix${s.getName}/"))
      else {
        val n = entries.count(f => f.isFile && f.getName.startsWith("part-"))
        if (n > 0 || prefix.nonEmpty) Seq(prefix -> n) else Seq.empty
      }
    }
    walk(new java.io.File(dir), "").toMap
  }
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.local(4, 4)
}
