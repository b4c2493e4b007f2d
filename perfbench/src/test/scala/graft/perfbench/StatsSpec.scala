package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("Harrell-Davis quantile") {
    assert(Stats.quantile(Seq(5.0), 0.75) == 5.0)
    assert(math.abs(Stats.quantile(Seq.fill(7)(2.5), 0.5) - 2.5) < 1e-12)
    // symmetric samples: the median estimate is the centre
    assert(math.abs(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.5) - 3.0) < 1e-9)
    assert(math.abs(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) - 2.5) < 1e-9)
    // p75 of 1..44 sits near the nearest-rank p75 (33), inside the sample
    val xs = (1 to 44).map(_.toDouble)
    val p75 = Stats.quantile(xs, 0.75)
    assert(p75 > 33.0 && p75 < 34.5)
    assert(Stats.quantile(xs, 0.5) < p75)
    // one changed sample moves the estimate less than it moves a rank
    val ys = Seq(0.30, 0.40, 0.42, 0.45, 0.60, 0.70, 2.5)
    val bumped = ys.updated(3, 0.55)
    assert(Stats.quantile(bumped, 0.5) - Stats.quantile(ys, 0.5) < 0.10)
    assertThrows[IllegalArgumentException](Stats.quantile(Nil, 0.5))
    assertThrows[IllegalArgumentException](Stats.quantile(xs, 1.0))
  }

  test("the tail percentile keeps at least ten samples beyond it") {
    // 44 queries: p90 leaves 4 beyond, p75 leaves 11
    assert(Stats.beyond(44, 90) == 4)
    assert(Stats.beyond(44, 75) == 11)
    assert(Stats.tailPercentile(44).contains(75.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(19).isEmpty)
  }
}
