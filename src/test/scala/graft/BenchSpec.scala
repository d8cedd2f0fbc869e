package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's cross-sweep per-query summary reads BENCH_HISTORY.jsonl. */
class BenchSpec extends AnyFunSuite {

  private val history = Seq(
    """{"sf":"a","queries":{"q1":2.00,"q2":1.00}}""",
    """{"sf":"b","queries":{"q1":9.00}}""",
    """{"sf":"a","queries":{"q1":4.00,"q2":1.00,"q3":-1.00}}""",
    "")

  test("pqSummary compares with the last history line at the same sf") {
    val now = Seq("q1" -> 2.0, "q2" -> 1.0, "q3" -> 1.0, "q4" -> 1.0)
    assert(Bench.pqSummary(history, "a", now) ==
      ""","pq_n_common":2,"pq_geomean_speedup":1.414,"pq_improved":1,""" +
      """"pq_regressed":0,"pq_top_regr":{},"pq_top_impr":{"q1":[4.0,2.0]}""")
    assert(Bench.pqSummary(history, "b", now).startsWith(""","pq_n_common":1,"""))
  }

  test("pqSummary is empty without a sweep at this sf") {
    assert(Bench.pqSummary(history, "c", Seq("q1" -> 1.0)) == "")
    assert(Bench.pqSummary(Nil, "a", Seq("q1" -> 1.0)) == "")
  }
}
