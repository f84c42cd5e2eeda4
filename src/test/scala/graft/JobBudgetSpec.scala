package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.planner._
import SparkTestSession.spark

/** Job budgets for the cube fast tail, for the pipeline ops that
  * iterate over a small state (MMR's shortlists, TextRank's vocabulary
  * graph), for the n-gram similarity joins and for the two-phase vector
  * searches: there per-action scheduling, not compute, dominates, so a
  * change that adds Spark jobs to these queries is a regression even when
  * every result stays right.
  * Each query runs once to warm the catalog's memoization, then once
  * counted, written in full through the `noop` sink. */
class JobBudgetSpec extends AnyFunSuite {

  private val budgets = Seq(
    "q02_star_drilldown" -> 6,
    "q11_dense_axes" -> 5,
    "q55_dense_lag" -> 8,
    "q75_mdx_topcount_tuples" -> 5,
    "s10_mmr_rerank" -> 5,
    "t23_textrank" -> 5,
    // the similarity joins: the auto-capped forms (d24, d23) run the exact
    // join (d04, d19) plus the hot-tail check — a checkpoint and one count
    "d04_ngram_jaccard" -> 12,
    "d24_ngram_jaccard_auto" -> 15,
    "d19_containment" -> 13,
    "d23_containment_auto" -> 16,
    // the two-phase vector searches; s12, s15 and s16 serve from one
    // memoized PQ index, so none of them re-trains or re-encodes per run
    "s05_knn_quantized" -> 5,
    "s09_knn_projected" -> 5,
    "s12_knn_pq" -> 5,
    "s14_knn_ivfpq" -> 7,
    "s15_knn_pq_exact" -> 8,
    "s16_knn_range" -> 5)

  for ((q, budget) <- budgets) test(s"$q runs at most $budget Spark jobs") {
    val fn = SparkEntry.queries(q)
    def run(): Unit = fn(spark, SparkTestSession.sf)
      .write.format("noop").mode("overwrite").save()
    run()
    val (_, jobs) = SparkTestSession.jobsDuring(run())
    assert(jobs <= budget, s"$q ran $jobs jobs (budget $budget)")
  }

  test("a dense + lag query with a never-seen cut value plans with 0 " +
      "Spark jobs on a warm catalog") {
    def q(year: Int, region: Int) = CubeQuery("sales",
      Seq(LevelDrill(LevelRef("ShipDate", Some("Month"))),
        LevelDrill(LevelRef("Geography", Some("Nation")))),
      Seq("revenue", "prev_revenue"), cuts = Seq(
        MemberCut(LevelRef("ShipDate", Some("Year")), year),
        MemberCut(LevelRef("Geography", Some("Region")), region)))
    val c = TpchCatalog.build(spark, SparkTestSession.sf)
    try {
      Planner.plan(c, q(1995, 0)).collect()
      val (_, jobs) = SparkTestSession.jobsDuring(Planner.plan(c, q(1996, 1)))
      assert(jobs == 0, s"planning ran $jobs Spark jobs")
    } finally c.close()
  }
}
