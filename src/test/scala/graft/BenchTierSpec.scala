package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each query's bench tier and superseded flag are declared where the
  * query is registered, in `SparkEntry`'s tier blocks; the bench reads
  * them from there. A new query landing outside the named tiers would
  * localize its regressions to a junk bucket. (No SparkSession needed —
  * the registry keys are static.)
  */
class BenchTierSpec extends AnyFunSuite {

  private val tierNames = Set("etl", "windows", "relational", "text", "dedup_graph",
    "ann", "sampling", "events", "cdc_layout", "streaming", "multimodal")

  test("every registry query maps to a named tier, never 'other'") {
    val untiered = SparkEntry.queries.keys.filterNot(n => tierNames(Bench.tierOf(n)))
    assert(untiered.isEmpty,
      s"queries outside the named tiers: ${untiered.toSeq.sorted.mkString(", ")}")
  }

  test("the registry declares exactly the 11 bench tiers") {
    assert(SparkEntry.tierOf.values.toSet === tierNames)
  }

  test("the superseded set is exactly the md5 winnow and the rebuild-in-row forms") {
    val expected = Set("q_winnow", "q_ann_ivf_indexed", "q_ann_ivfpq_indexed",
      "q_bm25_indexed", "q_bm25_deleted", "q_decontam_fuzzy_indexed",
      "q_embed_neardup_indexed", "q_decontam_semantic_indexed")
    assert(SparkEntry.superseded === expected)
    assert(expected.subsetOf(SparkEntry.queries.keySet))
  }

  test("tier spot checks") {
    assert(Bench.tierOf("q_s1_scan_filter") === "etl")
    assert(Bench.tierOf("q_token_budget") === "sampling")
    assert(Bench.tierOf("q_token_entropy") === "text")
    assert(Bench.tierOf("q_cdc_latest") === "streaming")
    assert(Bench.tierOf("q_bmp_decode") === "multimodal")
    assert(Bench.tierOf("q_dup_clusters_star") === "dedup_graph")
  }
}
