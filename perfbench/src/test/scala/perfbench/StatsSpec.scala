package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail is the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 30).map(_.toDouble).reverse
    val (v, pct) = Stats.tail(xs)
    assert(v == 20.0)                       // 21..30 lie beyond it: 10 samples
    assert(xs.count(_ > v) == 10)
    assert(math.abs(pct - 100.0 * 20 / 30) < 1e-9)
    assert(Stats.tail((1 to 100).map(_.toDouble))._1 == 90.0)
    assert(Stats.tail((1 to 100).map(_.toDouble), beyond = 5)._1 == 95.0)
  }

  test("tail falls back to the maximum when it would not lie above the median") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((20.0, 100.0)))
    assert(Stats.tail((1 to 21).map(_.toDouble))._1 == 11.0)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("union length merges overlapping and nested intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)
    assert(Stats.unionLength(Seq((3L, 3L), (7L, 5L))) == 0L)
  }
}
