package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(IndexedSeq(7.0), 99) == 7.0)
  }

  test("the tail is the highest ladder percentile with ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    // capped at p99, so a `_p99_ms` metric never reports a higher one
    assert(Stats.tailPercentile(100000).contains(99.0))
  }

  test("every chosen tail leaves at least ten samples beyond its rank") {
    for (n <- 20 to 3000) {
      val p = Stats.tailPercentile(n).get
      assert(n - Stats.rank(n, p) >= Stats.MinBeyond, s"n=$n p=$p")
    }
  }

  test("summaries report the sample count and fall back to the maximum") {
    val s = Stats.summarize((1 to 200).map(_.toDouble))
    assert(s.n == 200 && s.tailPct == 95.0 && s.tail == 190.0 && s.p50 == 100.0)
    val floor = Stats.summarize((1 to 20).map(_.toDouble))
    assert(floor.tailPct == 50.0 && floor.tail == floor.p50)
    val small = Stats.summarize(Seq(3.0, 1.0, 2.0))
    assert(small.n == 3 && small.p50 == 2.0 && small.tailPct == 100.0 && small.tail == 3.0)
    assert(Stats.summarize(Nil).n == 0)
  }
}
