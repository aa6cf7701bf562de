package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("quantiles match Python's statistics.quantiles (exclusive method)") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.quantile(xs, 0.25) == 2.75)
    assert(Stats.quantile(xs, 0.5) == 5.5)
    assert(Stats.quantile(xs, 0.75) == 8.25)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("a tail percentile is reported only with at least 10 samples beyond it") {
    val short = (1 to 99).map(_.toDouble)
    assert(short.count(_ > Stats.quantile(short, 0.9)) == 9)
    assert(Stats.tailQuantile(short, 0.9).isEmpty)
    val enough = (1 to 109).map(_.toDouble)
    assert(enough.count(_ > Stats.quantile(enough, 0.9)) == 10)
    assert(Stats.tailQuantile(enough, 0.9).contains(99.0))
    assert(Stats.tailQuantile(Nil, 0.9).isEmpty)
  }

  test("ratios carry their base") {
    val r = Stats.Ratio(3.0, 4.0)
    assert(r.value == 0.75)
    assert(Stats.Ratio(1.0, 0.0).value == 0.0)
    val json = Report.json(Map("r" -> r))
    assert(json == """{"r":{"value":0.75,"num":3.0,"den":4.0}}""")
  }
}
