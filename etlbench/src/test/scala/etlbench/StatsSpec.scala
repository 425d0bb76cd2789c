package etlbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a p75 needs 10 samples beyond it by default, so 40 in all") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 0.75) == 30.25)
    intercept[IllegalArgumentException](Stats.percentile(xs.take(39), 0.75))
  }

  test("a median needs 20 samples by default") {
    assert(Stats.median((1 to 20).map(_.toDouble)) == 10.5)
    intercept[IllegalArgumentException](Stats.median((1 to 19).map(_.toDouble)))
  }

  test("an explicit floor is enforced the same way") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0)
    assert(Stats.percentile(xs, 0.75, minBeyond = 3) == 11.5)
    intercept[IllegalArgumentException](Stats.percentile(xs, 0.75, minBeyond = 4))
  }

  test("interpolation matches Python's statistics.quantiles(method='inclusive')") {
    // quantiles([1, 2, 4, 8, 16], n=4, method='inclusive') == [2.0, 4.0, 8.0]
    val xs = Seq(16.0, 1.0, 8.0, 2.0, 4.0)
    assert(Stats.percentile(xs, 0.25, minBeyond = 0) == 2.0)
    assert(Stats.percentile(xs, 0.5, minBeyond = 0) == 4.0)
    assert(Stats.percentile(xs, 0.75, minBeyond = 0) == 8.0)
  }
}
