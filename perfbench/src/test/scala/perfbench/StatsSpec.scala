package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("p75 of 44 samples is the 33rd smallest, with 11 samples above it") {
    val xs = scala.util.Random.shuffle((1 to 44).map(_.toDouble))
    val p75 = Stats.percentile(xs, 0.75)
    assert(p75 == 33.0)
    assert(xs.count(_ > p75) == 11)
  }

  test("median averages the middle pair of an even sample") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("covered time merges overlapping jobs and clips to the window") {
    def job(id: Int, a: Long, b: Long) = {
      val j = Tracer.JobRec(id, 0, "", a, Nil); j.endMs = b; j
    }
    val js = Seq(job(1, 0, 10), job(2, 5, 20), job(3, 30, 40), job(4, 35, 90))
    assert(Layers.covered(js, 0, 100) == 80)
    assert(Layers.covered(js, 8, 38) == 20)
  }

  test("json renders nested maps, sequences and escapes") {
    assert(Stats.json(Map("a" -> Seq(1L, 2L), "c" -> 2.5, "b\"" -> "x\ny")) ==
      "{\"a\":[1,2],\"c\":2.5,\"b\\\"\":\"x\\u000ay\"}")
  }
}
