package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops.{DatasetType, TypeOptions}
import TestSpark.{spark, strings1}

/** ScalaCheck-driven hostile-input fuzz for the dataset_type conversion
  * surface (the widest correctness surface in the engine, ~90 specs),
  * mirroring the reference's a_test_dataset_type_corner_cases.py with
  * GENERATED corner cases instead of handpicked ones: garbage
  * prefixes/suffixes, sign absorption, locale commas, whitespace padding,
  * leading zeros, hex/octal with base auto-detect, out-of-range rejection,
  * edge epochs, and non-ASCII under ascii:strict.
  *
  * Evaluation is BATCHED: each property samples a few hundred inputs from
  * a deterministic seed, types them in ONE Spark job, and compares against
  * an expectation computed independently on the JVM (Long arithmetic,
  * BigDecimal.doubleValue, Instant.ofEpochSecond) — never against the same
  * regex/cast the implementation uses, so agreement is evidence, not
  * tautology. Fixed seed: a failure reproduces exactly.
  */
class DatasetTypeFuzzSpec extends AnyFunSuite {
  import DatasetTypeFuzzSpec._

  private def sample[A](g: Gen[A], seed: Long): Seq[A] = DatasetTypeFuzzSpec.sample(g, 400, seed)

  /** Type `vals` with one spec in one Spark job, null-safe collect. */
  private def conv(spec: String, vals: Seq[String],
                   opts: TypeOptions = TypeOptions()): Seq[Any] =
    DatasetType(strings1(vals), Map("v" -> spec), opts = opts).good
      .collect().map(r => if (r.isNullAt(0)) null else r.get(0)).toSeq

  private def assertAll(vals: Seq[String], got: Seq[Any], want: Seq[Any]): Unit = {
    assert(got.size == want.size)
    vals.lazyZip(got).lazyZip(want).foreach { (in, g, w) =>
      assert(g == w, s"input ${in.map(ch => if (ch < 127) ch.toString else f"\\u${ch.toInt}%04x").mkString}: got $g want $w")
    }
  }

  test("int64i: first signed integer extracted from arbitrary garbage") {
    val cases = sample(int64iCases, seed = 101)
    assertAll(cases.map(_._1), conv("int64i", cases.map(_._1)),
      cases.map(_._2))
  }

  test("float64i: first float (incl. e-notation) extracted from garbage") {
    val cases = sample(float64iCases, seed = 102)
    assertAll(cases.map(_._1), conv("float64i", cases.map(_._1)),
      cases.map(_._2))
  }

  test("float64: whitespace padding tolerated; value is the correctly-rounded parse") {
    val cases = sample(paddedFloatCases, seed = 103)
    assertAll(cases.map(_._1), conv("float64", cases.map(_._1)), cases.map(_._2))
  }

  test("numeric_comma: comma is THE decimal separator; any dot makes the value bad") {
    val cases = sample(commaDecimals, seed = 104)
    val commaed = cases.map(_.bigDecimal.toPlainString.replace('.', ','))
    assertAll(commaed, conv("float64", commaed, TypeOptions(numericComma = true)),
      cases.map(_.bigDecimal.doubleValue))
    // dotted spellings of the same values are bad under numeric_comma
    val dotted = cases.map(_.bigDecimal.toPlainString)
    assertAll(dotted, conv("float64", dotted, TypeOptions(numericComma = true)),
      cases.map(_ => null))
  }

  test("int64 base 10: sign + leading zeros ok; beyond ±2^63 rejected as bad") {
    val cases = sample(int64Cases, seed = 105)
    assertAll(cases.map(_._1), conv("int64", cases.map(_._1)), cases.map(_._2))
    val bad = sample(int64OutOfRange, seed = 106)
    assertAll(bad, conv("int64", bad), bad.map(_ => null))
  }

  test("int32: values outside int range are bad, inside parse exactly") {
    val cases = sample(int32Cases, seed = 107)
    assertAll(cases.map(_._1), conv("int32", cases.map(_._1)), cases.map(_._2))
  }

  test("int64_0 auto-detect: random-cased 0x/0o prefixes and bare decimal") {
    val cases = sample(int64AutoCases, seed = 108)
    assertAll(cases.map(_._1), conv("int64_0", cases.map(_._1)), cases.map(_._2))
  }

  test("strbool: falsy spellings in any case are false; everything else true") {
    val vals = sample(strboolInputs, seed = 109)
    val want = vals.map(v => Boolean.box(!falsy.contains(v.toLowerCase)))
    assertAll(vals, conv("strbool", vals), want)
  }

  test("datetime:%s edge epochs: pre-1970 through year-9999 round to the exact instant") {
    // lower bound 1900, not year 1: collect() rebases pre-1582 instants
    // into java.sql.Timestamp's hybrid Julian calendar (a JDBC display
    // convention, not a parse defect), which would shift the Instant
    val epochs = sample(epochSeconds, seed = 110)
    val got = conv("datetime:%s", epochs.map(_.toString))
    epochs.lazyZip(got).foreach { (e, g) =>
      val ts = g.asInstanceOf[java.sql.Timestamp]
      assert(ts != null && ts.toInstant == java.time.Instant.ofEpochSecond(e),
        s"epoch $e parsed to $g")
    }
  }

  test("ascii:strict: pure ASCII passes through, any char >127 is a bad value") {
    val g = for {
      ascii <- Gen.stringOfN(6, Gen.oneOf((' ' to '~').toSeq))
      hostile <- Gen.oneOf(true, false)
      where <- Gen.chooseNum(0, 6)
      c <- Gen.oneOf('é', '€', '世')
    } yield {
      if (hostile) {
        val v = ascii.substring(0, where) + c + ascii.substring(where)
        (v, null)
      } else (ascii, ascii)
    }
    val cases = sample(g, seed = 111)
    assertAll(cases.map(_._1), conv("ascii:strict", cases.map(_._1)),
      cases.map(_._2))
  }
}

/** The generators, shared with [[KernelLawSpec]]'s parse-kernel rows. */
object DatasetTypeFuzzSpec {

  def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  // digit-, sign- and dot-free junk (so the embedded number stays the
  // FIRST match); includes non-ASCII to exercise the regex on multibyte
  val junkChar: Gen[Char] =
    Gen.oneOf("azAZ_ #!~?/|(){}é世界ß".toSeq)
  val junk: Gen[String] =
    Gen.chooseNum(0, 8).flatMap(n => Gen.stringOfN(n, junkChar))
  // suffix additionally must not START with a char that extends a numeric
  // match (digit, '.', e/E exponent head) — junkChar already excludes them
  val sign: Gen[String] = Gen.oneOf("", "+", "-")

  /** (value, the integer it holds) with garbage around it. */
  val int64iCases: Gen[(String, Long)] = for {
    p <- junk; s <- sign
    abs <- Gen.chooseNum(0L, Long.MaxValue)
    t <- junk
  } yield (s"$p$s$abs$t", if (s == "-") -abs else abs)

  val float64iCases: Gen[(String, Double)] = for {
    p <- junk
    d <- Gen.chooseNum(-1e12, 1e12)
    scaled = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    t <- junk
  } yield (s"$p${scaled.bigDecimal.toPlainString}$t", scaled.bigDecimal.doubleValue)

  val paddedFloatCases: Gen[(String, Double)] = for {
    lpad <- Gen.stringOfN(2, Gen.oneOf(' ', '\t'))
    d <- Gen.chooseNum(-1e30, 1e30)
    rpad <- Gen.stringOfN(1, Gen.oneOf(' ', '\t'))
  } yield (s"$lpad$d$rpad", d)

  val commaDecimals: Gen[BigDecimal] = for {
    d <- Gen.chooseNum(-1e9, 1e9)
  } yield BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)

  val int64Cases: Gen[(String, Long)] = for {
    s <- sign
    z <- Gen.chooseNum(0, 3)
    abs <- Gen.chooseNum(0L, Long.MaxValue)
  } yield (s"$s${"0" * z}$abs", if (s == "-") -abs else abs)

  val int64OutOfRange: Gen[String] = for {
    s <- Gen.oneOf("", "-")
    extra <- Gen.chooseNum(1L, Long.MaxValue)
  } yield s + (BigInt(Long.MaxValue) + BigInt(extra) + (if (s == "-") 1 else 0)).toString

  val int32Cases: Gen[(String, Any)] = for {
    v <- Gen.chooseNum(Int.MinValue.toLong * 3, Int.MaxValue.toLong * 3)
  } yield (v.toString,
    if (v >= Int.MinValue && v <= Int.MaxValue) Int.box(v.toInt) else null)

  /** Random-cased 0x/0o prefixes and bare decimal, signed. */
  val int64AutoCases: Gen[(String, Long)] = for {
    s <- sign
    abs <- Gen.chooseNum(0L, Long.MaxValue)
    kind <- Gen.oneOf("hex", "oct", "dec")
    xCase <- Gen.oneOf("0x", "0X")
    hexCase <- Gen.oneOf(true, false)
  } yield {
    val body = kind match {
      case "hex" =>
        val h = java.lang.Long.toHexString(abs)
        xCase + (if (hexCase) h.toUpperCase else h)
      case "oct" => "0o" + java.lang.Long.toOctalString(abs)
      case "dec" => abs.toString
    }
    (s + body, if (s == "-") -abs else abs)
  }

  val falsy: Seq[String] = Seq("false", "0", "f", "no", "off", "nil", "null", "")

  val strboolInputs: Gen[String] = {
    val randomCase: String => Gen[String] = s =>
      Gen.listOfN(s.length, Gen.oneOf(true, false)).map(bs =>
        s.lazyZip(bs).map((c, up) => if (up) c.toUpper else c).mkString)
    Gen.frequency(
      5 -> Gen.oneOf(falsy).flatMap(randomCase),
      5 -> Gen.chooseNum(1, 6).flatMap(n =>
        Gen.stringOfN(n, Gen.oneOf("abcxyz YN?!01".toSeq))))
  }

  val epochSeconds: Gen[Long] = Gen.chooseNum(-2208988800L, 253402300799L) // 1900 .. 9999
}
