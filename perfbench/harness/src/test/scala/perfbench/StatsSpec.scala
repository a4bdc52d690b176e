package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private val hundred = (1 to 100).map(_.toDouble)

  test("nearest-rank percentiles") {
    assert(Stats.percentile(hundred, 50) === 50.0)
    assert(Stats.percentile(hundred, 90) === 90.0)
    assert(Stats.percentile(hundred, 99) === 99.0)
    assert(Stats.percentile(hundred, 100) === 100.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.0)
    assert(Stats.percentile(Seq(7.0), 99) === 7.0)
  }

  test("a tail needs ten samples beyond it") {
    assert(Stats.beyond(100, 90) === 10)
    assert(Stats.supports(100, 90))
    assert(!Stats.supports(99, 90))
    assert(!Stats.supports(999, 99))
    assert(Stats.supports(1000, 99))
    assert(!Stats.supports(0, 50))
  }

  test("the highest supported tail follows the sample count") {
    assert(Stats.highestTail(10000).contains(99.9))
    assert(Stats.highestTail(1000).contains(99.0))
    assert(Stats.highestTail(999).contains(95.0))
    assert(Stats.highestTail(200).contains(95.0))
    assert(Stats.highestTail(100).contains(90.0))
    assert(Stats.highestTail(40).contains(75.0))
    assert(Stats.highestTail(20).contains(50.0))
    assert(Stats.highestTail(19).isEmpty)
  }
}
