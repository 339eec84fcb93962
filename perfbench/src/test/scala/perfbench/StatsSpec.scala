package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  /** Samples strictly beyond the nearest-rank `p`th percentile of `n`. */
  private def beyond(n: Int, p: Int): Int = n - math.max(1, math.ceil(p * n / 100.0).toInt)

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.nearestRank(xs, 90) == 90.0)
    assert(Stats.nearestRank(xs, 0) == 1.0)
    assert(Stats.nearestRank(xs, 100) == 100.0)
    assert(Stats.nearestRank(Seq(5.0, 1.0, 3.0), 50) == 3.0)
  }

  test("tail percentile is the highest that keeps ten samples beyond it") {
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(1001).contains(99))
    assert(Stats.tailPercentile(37).contains(72))
    for (n <- 11 to 2000; p <- Stats.tailPercentile(n)) {
      assert(beyond(n, p) >= 10, s"n=$n p=$p")
      assert(p == 100 || beyond(n, p + 1) < 10, s"n=$n p=$p is not the highest")
    }
  }

  test("tail reading records its percentile and sample count") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.Tail(90.0, 90, 100))
    val few = Seq(10.0, 30.0, 20.0, 40.0)
    assert(Stats.tail(few) == Stats.Tail(25.0, 50, 4)) // below twenty samples: the median
    assert(Stats.tail((1 to 21).map(_.toDouble)) == Stats.Tail(11.0, 52, 21))
  }
}
