package perfbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def bytes(seed: Long, day: Int): (Array[Byte], DayStats) = {
    val dir = Files.createTempDirectory("perfbench-gen")
    try {
      val p = dir.resolve("day.csv")
      val stats = Gen.writeDay(p, seed, day, 3000)
      (Files.readAllBytes(p), stats)
    } finally Run.rmrf(dir)
  }

  test("the same seed gives identical bytes, another seed different bytes") {
    val (a, sa) = bytes(7, 2)
    val (b, sb) = bytes(7, 2)
    val (c, _) = bytes(8, 2)
    assert(a.sameElements(b))
    assert(sa == sb)
    assert(!a.sameElements(c))
  }

  test("every generated line is counted once: good, unparseable or malformed") {
    val (a, s) = bytes(3, 0)
    assert(s.good + s.typeBad + s.csvBad == s.csvRows)
    assert(s.typeBad > 0 && s.typeBad < s.csvRows / 20)
    assert(s.keyCounts.values.sum == s.good)
    assert(s.bytes == a.length)
  }
}
