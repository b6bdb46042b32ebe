package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(100) == Some(90))
    // 30 samples: p66 leaves 30 - ceil(19.8) = 10 beyond, p67 only 9
    assert(Stats.tailPercentile(30) == Some(66))
    assert(Stats.tailPercentile(28) == Some(64))
    assert(Stats.tailPercentile(20) == Some(50))
    assert(Stats.tailPercentile(19).isEmpty)
    val thirty = (1 to 30).map(_.toDouble)
    assert(Stats.percentile(thirty, Stats.tailPercentile(30).get) == 20.0)
  }
}
