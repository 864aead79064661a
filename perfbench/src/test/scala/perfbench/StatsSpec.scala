package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def xs(n: Int) = (1 to n).map(_.toDouble)

  test("a percentile is reported only with at least ten samples beyond it") {
    assert(Stats.percentile(xs(19), 50).isEmpty)
    assert(Stats.percentile(xs(20), 50).contains(10.0))
    assert(Stats.percentile(xs(99), 90).isEmpty)
    assert(Stats.percentile(xs(100), 90).contains(90.0))
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("percentiles ignore sample order") {
    val shuffled = new scala.util.Random(7).shuffle(xs(40))
    assert(Stats.percentile(shuffled, 50) == Stats.percentile(xs(40), 50))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
