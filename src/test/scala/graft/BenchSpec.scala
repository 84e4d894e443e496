package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's accounting: the time until a query throws is not a sample
  * of that query, so a failure can never read as a fast query.
  */
class BenchSpec extends AnyFunSuite {

  test("a query that throws is counted in n_failed and left out of value") {
    val registry: Seq[(String, () => Unit)] = Seq(
      "agg_pricing_summary" -> (() => ()),
      "text_tfidf_top" -> (() => {
        Thread.sleep(300); throw new IllegalStateException("dead context")
      }))
    val r = Bench.measure(registry, passes = 3)
    assert(r.failed == Seq("text_tfidf_top"))
    assert(r.medians.map(_._1) == Seq("agg_pricing_summary"))
    assert(r.total < 0.3 && r.totalMin < 0.3,
      s"the failed query's time leaked into value: ${r.total}")
    val line = Bench.jsonLine(r, passes = 3, sfDir = "sf")
    assert(line.contains("\"n_queries\":2,\"n_failed\":1,"), line)
    assert(line.contains("\"queries\":{\"agg_pricing_summary\":"), line)
    assert(!line.contains("text_tfidf_top"),
      s"a failed headline query must not appear in the detail: $line")
  }
}
