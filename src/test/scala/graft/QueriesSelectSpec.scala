package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Queries.select`, the one parser of `SPARK_GRAFT_QUERIES` that
  * Verify and Bench share; no Spark session is needed. */
class QueriesSelectSpec extends AnyFunSuite {

  test("select: no list selects the whole registry") {
    assert(Queries.select(None) eq Queries.all)
  }

  test("select: a known subset selects exactly those entries") {
    val s = Queries.select(Some("q1_agg,q3_top_orders"))
    assert(s.keySet == Set("q1_agg", "q3_top_orders"))
    assert(s("q1_agg") eq Queries.all("q1_agg"))
  }

  test("select: blank and padded entries are skipped") {
    assert(Queries.select(Some(" q1_agg , ,q3_top_orders,")).keySet == Set("q1_agg", "q3_top_orders"))
    assert(Queries.select(Some(" , ")).isEmpty)
  }

  test("select: unknown names throw, naming every unknown entry") {
    val e = intercept[IllegalArgumentException] {
      Queries.select(Some("q1_agg,q_nope, q_hudi_upsert_noidx"))
    }
    assert(e.getMessage.contains("q_nope"))
    assert(e.getMessage.contains("q_hudi_upsert_noidx"))
    assert(!e.getMessage.contains("q1_agg"))
  }
}
