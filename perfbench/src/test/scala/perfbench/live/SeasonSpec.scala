package perfbench.live

import org.scalatest.funsuite.AnyFunSuite

class SeasonSpec extends AnyFunSuite {
  private def feeds(s: Season) =
    s.bdeckFiles(Season.BackfillHour, archive = true) ++
      s.ticks.flatMap(h => s.bdeckFiles(h, archive = false) ++ s.adeckFiles(h))

  test("the same seed generates the same season, byte for byte") {
    assert(feeds(Season.generate(7, 4)) == feeds(Season.generate(7, 4)))
  }

  test("different seeds generate different seasons of the same shape") {
    val (a, b) = (Season.generate(7, 4), Season.generate(8, 4))
    assert(feeds(a) != feeds(b))
    assert(a.systems.size == b.systems.size)
    assert(a.systems.count(_.investNum.isDefined) == b.systems.count(_.investNum.isDefined))
    assert(a.systems.map(_.basin) == b.systems.map(_.basin))
  }

  test("every basin has an invest named inside the replay at its start fix") {
    val s = Season.generate(3, 4)
    for (basin <- Season.Basins) {
      val named = s.systems.filter(x => x.basin == basin && x.investNum.isDefined &&
        x.namingHour.exists(h => h > Season.BackfillHour && h <= s.ticks.last))
      assert(named.size == 1, basin)
    }
  }

  test("about 5% of deck lines are ragged or short, and re-land ticks are byte-identical") {
    val s = Season.generate(5, 4)
    val lines = s.bdeckFiles(Season.BackfillHour, archive = true).flatMap(_.lines)
    val fields = lines.map(_.split(",", -1).length)
    val odd = fields.count(_ < 36).toDouble / lines.size
    assert(odd > 0.01 && odd < 0.10, odd)
    assert(fields.exists(_ < 18))
    val reland = s.ticks.filter(_ % 6 != 0)
    for (Seq(h1, h2) <- reland.sliding(2) if h2 == h1 + 1 && h2 % 6 != 0)
      assert(s.bdeckFiles(h1, archive = false) == s.bdeckFiles(h2, archive = false))
  }
}
