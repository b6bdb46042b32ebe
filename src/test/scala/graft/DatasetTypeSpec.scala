package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.DatasetType
import TestSpark.{spark, strings1}

/** dataset_type conversion corner cases, ported from the reference's
  * a_test_dataset_type_corner_cases.py (the semantics, not the code).
  */
class DatasetTypeSpec extends AnyFunSuite {

  private def conv(spec: String, vals: Seq[String]): Seq[Any] = {
    val df = strings1(vals)
    DatasetType(df, Map("v" -> spec)).good.collect().map { r =>
      if (r.isNullAt(0)) null else r.get(0)
    }.toSeq
  }

  test("strbool corner cases (a_test_dataset_type_corner_cases.py:149)") {
    val vals = Seq("", "0", "FALSE", "f", "FaLSe", "no", "off", "NIL", "NULL",
      "y", "jao", "well, sure", " ", "true")
    val want = Seq.fill(9)(false) ++ Seq.fill(5)(true)
    assert(conv("strbool", vals) == want)
  }

  test("floatbool: empty and whitespace-only are false, inf is true") {
    val vals = Seq("0", "-0", "1", "1004", "0.00001", "inf", "-1", "", "0.00")
    val want = Seq(false, false, true, true, true, true, true, false, false)
    assert(conv("floatbool", vals) == want)
  }

  test("int bases 16, 8 and auto-detect 0") {
    assert(conv("int64_16", Seq("ff", "-ff", "0x10", "g")) ==
      Seq(255L, -255L, 16L, null))
    assert(conv("int64_8", Seq("17", "-17", "0o20", "9")) ==
      Seq(15L, -15L, 16L, null))
    assert(conv("int64_0", Seq("0x10", "0o20", "42", "-0x10")) ==
      Seq(16L, 16L, 42L, -16L))
  }

  test("int32 range rejection and defaults (reference 'nearly good numbers')") {
    assert(conv("int32", Seq("2147483648", "-2147483648", "1O")) ==
      Seq(null, -2147483648, null))
    val df = strings1(Seq("2147483648", "-2147483648", "1O"))
    val withDefault = DatasetType(df, Map("v" -> "int32"),
      defaults = Map("v" -> "123")).good.collect().map(_.get(0)).toSeq
    assert(withDefault == Seq(123, -2147483648, 123))
  }

  test("floatint exact vs saturate (reference floatint32e/s table)") {
    val vals = Seq("1.99", "-3000", "1e10", "-2147483648", "1e100", "-7.89")
    assert(conv("floatint32e", vals) ==
      Seq(null, -3000, null, -2147483648, null, null))
    assert(conv("floatint32s", vals) ==
      Seq(1, -3000, 2147483647, -2147483648, 2147483647, -7))
    assert(conv("floatint64s", Seq("1e10", "-2.2e9", "1e100")) ==
      Seq(10000000000L, -2200000000L, 9223372036854775807L))
  }

  test("special floats: inf/nan spellings (strtod semantics)") {
    val got = conv("float64", Seq("+Inf", "-inF", "nan", "NaN", "INF"))
    assert(got(0) == Double.PositiveInfinity)
    assert(got(1) == Double.NegativeInfinity)
    assert(got(2).asInstanceOf[Double].isNaN && got(3).asInstanceOf[Double].isNaN)
    assert(got(4) == Double.PositiveInfinity)
  }

  test("number prefers exact ints within double range") {
    assert(conv("number", Seq("42", "42.0", "43.", "forty two")) ==
      Seq(42.0, 42.0, 43.0, null))
  }

  test("i-variants extract the value, ignore garbage") {
    assert(conv("int64i", Seq("id=123;end", "99 bottles", "no digits")) ==
      Seq(123L, 99L, null))
    assert(conv("numberi", Seq("x=3.14!", "1e3x")) == Seq(3.14, 1000.0))
  }

  test("datetime %s and java epoch formats") {
    val e = conv("datetime:%s", Seq("0", "86400"))
    assert(e(0).toString == "1970-01-01 00:00:00.0")
    assert(e(1).toString == "1970-01-02 00:00:00.0")
    val j = conv("datetime:java", Seq("86400000"))
    assert(j(0).toString == "1970-01-02 00:00:00.0")
  }

  test("date with custom format") {
    assert(conv("date:%d/%m/%Y", Seq("31/12/1999", "xx")).map(Option(_).map(_.toString).orNull) ==
      Seq("1999-12-31", null))
  }

  test("time as micros-since-midnight") {
    assert(conv("time", Seq("00:00:00", "12:34:56.5", "23:59:59.999999", "25:00:00")) ==
      Seq(0L, (12L*3600+34*60+56)*1000000L + 500000L,
          (23L*3600+59*60+59)*1000000L + 999999L, null))
  }

  test("floatbooli: prefix parse, garbage-only is false (reference table)") {
    val vals = Seq("1 yes", "0 no", "0.00 also no", "inf yes", " 0.01y", "junk")
    assert(conv("floatbooli", vals) ==
      Seq(true, false, false, true, true, false))
  }

  test("i-variants of date/time/datetime tolerate trailing garbage") {
    assert(conv("datei", Seq("1999-12-31 trailing", "bad")).map(Option(_).map(_.toString).orNull) ==
      Seq("1999-12-31", null))
    assert(conv("datetimei", Seq("2020-01-02 03:04:05 extra")).map(_.toString) ==
      Seq("2020-01-02 03:04:05.0"))
    assert(conv("timei", Seq("12:34:56.5 tail", "nope")) ==
      Seq((12L * 3600 + 34 * 60 + 56) * 1000000L + 500000L, null))
    assert(conv("javadatetimei", Seq("86400000 ms since epoch")).map(_.toString) ==
      Seq("1970-01-02 00:00:00.0"))
  }

  test("number:int accepts integral floats, rejects fractional") {
    assert(conv("number:int", Seq("42", "42.0", "43.", "1.5")) ==
      Seq(42L, 42L, 43L, null))
  }

  test("number:big keeps 38-digit integers exact") {
    val big = "9" * 38
    val got = conv("number:big", Seq(big, "42", "9" * 39))
    assert(got(0).toString == big, "38 digits exact")
    assert(got(1).toString == "42")
    assert(got(2) == null, "39 digits is a bad value, not a rounded one")
    assert(conv("number:big", Seq("3.5", "-2.", "1e5")) == Seq(null, null, null),
      "fractional/exponent input is a bad value — a bare decimal cast would HALF_UP round 3.5 to 4")
  }

  test("numeric_comma: ',' is the decimal separator, '.' is a bad value") {
    val df = strings1(Seq("3,14", "42", "3.14", "1e3"))
    val got = graft.ops.DatasetType(df, Map("v" -> "float64"),
      opts = graft.ops.TypeOptions(numericComma = true)).good
      .collect().map(r => if (r.isNullAt(0)) null else r.get(0)).toSeq
    assert(got == Seq(3.14, 42.0, null, 1000.0))
  }

  test("complex64: python complex grammar to struct(re, im)") {
    val df = strings1(Seq("1+2j", "(3-4j)", "5j", "-7", "2+j_bad"))
    val got = graft.ops.DatasetType(df, Map("v" -> "complex64")).good
      .collect().map { r =>
        if (r.isNullAt(0)) null
        else { val s = r.getStruct(0); (s.getDouble(0), s.getDouble(1)) }
      }.toSeq
    assert(got == Seq((1.0, 2.0), (3.0, -4.0), (0.0, 5.0), (-7.0, 0.0), null))
  }

  test("bits: unsigned ranges (reference bits32/bits64 rejection table)") {
    assert(conv("bits32", Seq("4294967295", "4294967296", "-1", "1O")) ==
      Seq(4294967295L, null, null, null))
    val b64 = conv("bits64", Seq("18446744073709551615", "18446744073709551616", "-1"))
    assert(b64(0).toString == "18446744073709551615" && b64(1) == null && b64(2) == null)
    assert(conv("bits32_16", Seq("ff", "-ff")) == Seq(255L, null))
  }

  test("strip and ascii variants") {
    assert(conv("unicodestrip", Seq("  x \t", "y")) == Seq("x", "y"))
    // reference dataset_type.py:793-800: bare 'ascii' IS replace — every
    // byte > 127 becomes a \ooo octal escape; strict makes it a bad value
    assert(conv("ascii", Seq("plain", "ümlaut")) == Seq("plain", "\\374mlaut"))
    assert(conv("ascii:replace", Seq("ümlaut")) == Seq("\\374mlaut"))
    assert(conv("ascii:strict", Seq("plain", "ümlaut")) == Seq("plain", null))
    // encode additionally escapes backslash itself (\ → \134) so the
    // output round-trips unambiguously
    assert(conv("ascii:encode", Seq("a\\b", "ümlaut")) ==
      Seq("a\\134b", "\\374mlaut"))
    // a code unit > 0xFF (already-decoded text, not byte-preserving) is
    // escaped per UTF-8 byte — 'π' = 0xCF 0x80 → \317\200
    assert(conv("ascii", Seq("aπb")) == Seq("a\\317\\200b"))
  }

  test("unicode:<codec>[/errors] decodes byte-preserving strings") {
    // byte-preserving input: each code unit ≤ 0xFF IS the raw byte
    // (CsvImportConfig.encoding="bytes"). "Ä" as UTF-8 bytes is 0xC3 0x84.
    val u8bytes = "\u00c3\u0084x"
    assert(conv("unicode:utf-8", Seq(u8bytes)) == Seq("Äx"))
    // latin-1 reinterprets the same two bytes as two characters
    assert(conv("unicode:iso-8859-1", Seq(u8bytes)) == Seq(u8bytes))
    // strict: invalid utf-8 (lone 0xC4) is a bad value; replace → U+FFFD;
    // ignore → dropped
    assert(conv("unicode:utf-8", Seq("aÄb")) == Seq(null))
    assert(conv("unicode:utf-8/replace", Seq("aÄb")) == Seq("a�b"))
    assert(conv("unicode:utf-8/ignore", Seq("aÄb")) == Seq("ab"))
    // a code unit > 0xFF cannot come from the bytes import — bad value
    assert(conv("unicode:utf-8", Seq("aπb")) == Seq(null))
    // unicodestrip:<codec> strips the BYTES before decoding
    assert(conv("unicodestrip:utf-8", Seq(s"  $u8bytes \t")) == Seq("Äx"))
    // unknown codec / bad errors mode fail at plan time, not silently
    intercept[Exception](conv("unicode:no-such-codec", Seq("x")))
    intercept[Exception](conv("unicode:utf-8/maybe", Seq("x")))
  }

  test("timezone: wall-clock datetimes convert to UTC, epochs don't") {
    val opts = graft.ops.TypeOptions(timezone = Some("Asia/Kolkata"))
    val df = strings1(Seq("2020-01-01 05:30:00"))
    val got = graft.ops.DatasetType(df, Map("v" -> "datetime"), opts = opts)
      .good.collect().head.get(0).toString
    assert(got == "2020-01-01 00:00:00.0")
    val epoch = graft.ops.DatasetType(strings1(Seq("0")),
      Map("v" -> "datetime:%s"), opts = opts).good.collect().head.get(0).toString
    assert(epoch == "1970-01-01 00:00:00.0")
  }

  test("rehash on typed hashlabel: one partition per key") {
    val s = spark
    import s.implicits._
    val df = (0 until 200).map(i => ((i % 13).toString, i)).toDF("k", "v")
    val typed = graft.ops.DatasetType(df, Map("k" -> "int32"),
      hashlabel = Some("k"), slices = 8).good
    val placement = typed.select(col("k"), spark_partition_id().as("pid"))
      .distinct().groupBy("k").count().collect().map(_.getLong(1))
    assert(placement.forall(_ == 1L))
  }

  test("filter_bad drops rows with any unparseable column, keeps counts") {
    val s = spark
    import s.implicits._
    val df = Seq(("1", "x"), ("2", "2.5"), ("bad", "3.5"), ("4", "also bad"))
      .toDF("a", "b")
    val res = DatasetType(df, Map("a" -> "int64", "b" -> "float64"),
      filterBad = true)
    assert(res.good.count() == 1)
    assert(res.bad.count() == 3)
    val counts = res.badCounts(Map("a" -> "int64", "b" -> "float64"))
    assert(counts("a") == 1 && counts("b") == 2)
  }

  test("filter_bad over the hot specs plans byte-level kernels, no regex or formatter") {
    val s = spark
    import s.implicits._
    // perfbench's day columns and specs
    val types = Map("id" -> "int64", "qty" -> "int32", "code" -> "int64_16",
      "price" -> "float64", "day" -> "date", "ts" -> "datetime", "flag" -> "strbool")
    val df = Seq(("1", "k1", "2", "ff", "1.5", "2026-01-01", "2026-01-01 10:00:00", "true"),
      ("2", "k2", "q2", "ff", "1.5", "2026-01-01", "2026-01-01 10:00:00", "off"))
      .toDF("id", "key", "qty", "code", "price", "day", "ts", "flag")
    val res = DatasetType(df, types, filterBad = true, hashlabel = Some("key"))
    for (out <- Seq(res.good, res.bad)) {
      val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
      for (banned <- Seq("rlike", "regexp_replace", "conv(", "gettimestamp", "to_timestamp"))
        assert(!plan.contains(banned), s"$banned in\n$plan")
    }
    assert(res.good.select("id", "qty", "code", "flag").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, 2, 255L, true)))
    assert(res.bad.count() == 1)
  }

  test("defaults only apply to parse failures, nulls pass through") {
    val s = spark
    import s.implicits._
    val df = Seq(Some("nope"), None, Some("7")).toDF("v")
    val got = DatasetType(df, Map("v" -> "int64"),
      defaults = Map("v" -> "0")).good.collect().map { r =>
      if (r.isNullAt(0)) null else r.get(0)
    }.toSeq
    assert(got == Seq(0L, null, 7L))
  }
}
