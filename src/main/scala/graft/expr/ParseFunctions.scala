package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level parse/convert functions implementing the reference's
  * `dataset_type` conversion semantics (reference
  * standard_methods/dataset_type.py:730-810) as codegen-friendly
  * compositions of Spark built-ins. Each returns NULL on unparseable input
  * (the caller layers defaults / filter_bad on top).
  *
  * Kept as `Column` combinators (not UDFs) so every conversion stays inside
  * whole-stage codegen — at 100 TB the typing pass is a single codegen'd
  * projection over the scan, no JVM⇄closure boundary per value.
  */
object ParseFunctions {

  /** strbool (dataset_type.py:772-775): false/0/f/no/off/nil/null/'' →
    * false, anything else (non-null) → true. Case-insensitive, NO trimming —
    * whitespace-only input is true in the reference
    * (a_test_dataset_type_corner_cases.py:149).
    */
  def strBool(c: Column): Column =
    when(c.isNull, lit(null).cast("boolean"))
      .otherwise(!lower(c).isin("false", "0", "f", "no", "off", "nil", "null", ""))

  /** Float parse with the reference's C-strtod spellings: inf/infinity/nan
    * in any case with optional sign (dataset_type.py float conversions use
    * strtod; Spark's cast only accepts "Infinity"/"NaN").
    */
  def floatParse(c: Column): Column = {
    val t = lower(trim(c))
    when(t.isin("inf", "+inf", "infinity", "+infinity"), lit(Double.PositiveInfinity))
      .when(t.isin("-inf", "-infinity"), lit(Double.NegativeInfinity))
      .when(t.isin("nan", "+nan", "-nan"), lit(Double.NaN))
      .otherwise(c.try_cast("double"))
  }

  /** floatbool (dataset_type.py:521-535): strtod then truthiness; empty or
    * whitespace-only input parses as 0.0 → false (strtod's no-conversion
    * case leaves endptr at a NUL byte, which the reference accepts).
    */
  def floatBool(c: Column): Column =
    when(c.isNull, lit(null).cast("boolean"))
      .when(trim(c) === "", lit(false))
      .otherwise(floatParse(c) =!= 0.0)

  /** number (dataset_type.py:804-805): int-preferring numeric. Our mapping is
    * DoubleType (SURVEY §1.2 pragmatic choice); integral magnitudes beyond
    * 2^53 lose precision — documented deviation from the reference's bigint.
    */
  def number(c: Column): Column = floatParse(c)

  /** int64/int32 with base (dataset_type.py:746-765). Base 10 uses try_cast;
    * base 16/8 go through conv() after strict validation; base 0 auto-detects
    * a 0x/0o prefix like Python int(s, 0).
    */
  def intBase(c: Column, bits: Int, base: Int): Column = {
    // try_cast for the narrowing too: out-of-range → NULL (bad value), not
    // an ANSI overflow error (reference rejects out-of-range the same way,
    // a_test_dataset_type_corner_cases.py "nearly good numbers")
    val target = if (bits == 64) "long" else "int"
    def viaConv(src: Column, b: Int): Column = {
      val valid = if (b == 16) "^[-+]?[0-9a-fA-F]+$" else "^[-+]?[0-7]+$"
      when(trim(src).rlike(valid),
        when(trim(src).startsWith("-"),
          -conv(regexp_replace(trim(src), "^[-+]", ""), b, 10).try_cast("long"))
        .otherwise(conv(regexp_replace(trim(src), "^[+]", ""), b, 10).try_cast("long"))
      ).try_cast(target)
    }
    base match {
      case 10 => trim(c).try_cast("long").try_cast(target)
      case 16 => viaConv(regexp_replace(trim(c), "(?i)^([-+]?)0x", "$1"), 16)
      case 8  => viaConv(regexp_replace(trim(c), "(?i)^([-+]?)0o", "$1"), 8)
      case 0 =>
        when(trim(c).rlike("(?i)^[-+]?0x"),
             viaConv(regexp_replace(trim(c), "(?i)^([-+]?)0x", "$1"), 16))
          .when(trim(c).rlike("(?i)^[-+]?0o"),
             viaConv(regexp_replace(trim(c), "(?i)^([-+]?)0o", "$1"), 8))
          .otherwise(trim(c).try_cast("long").try_cast(target))
      case b => throw new IllegalArgumentException(s"unsupported int base $b")
    }
  }

  /** floatint{e,s} (dataset_type.py:752-763): parse float then to int;
    * `exact` nulls out non-integral values, `saturate` clamps to range.
    */
  def floatInt(c: Column, bits: Int, exact: Boolean, saturate: Boolean): Column = {
    val d = c.try_cast("double")
    val (lo, hi) =
      if (bits == 64) (Long.MinValue.toDouble, Long.MaxValue.toDouble)
      else (Int.MinValue.toDouble, Int.MaxValue.toDouble)
    val target = if (bits == 64) "long" else "int"
    val base =
      if (exact) when(d === floor(d), d)
      else d
    val ranged =
      if (saturate) least(greatest(base, lit(lo)), lit(hi))
      else when(base >= lo && base <= hi, base)
    // Long.MaxValue.toDouble == 2^63 exactly, so a double AT the upper
    // bound passes the range check yet overflows long — a plain cast
    // would throw under ANSI (Spark 4 default). try_cast nulls it (it IS
    // out of range); the saturate variant pins the edges to the true
    // integer extremes instead (NaN sorts above everything in Spark, so
    // NaN saturates high).
    val casted = ranged.try_cast(target)
    if (saturate && bits == 64)
      coalesce(casted,
        when(d >= lit(hi), lit(Long.MaxValue)).when(d <= lit(lo), lit(Long.MinValue)))
    else casted
  }

  /** The `i`-suffixed garbage-tolerant variants (dataset_type.py:812-828):
    * take the first numeric substring, ignore surrounding garbage.
    */
  def numberI(c: Column): Column = {
    val m = regexp_extract(c, "[-+]?(\\d+\\.?\\d*|\\.\\d+)([eE][-+]?\\d+)?", 0)
    when(m === "", lit(null).cast("double")).otherwise(m.try_cast("double"))
  }

  def intI(c: Column, bits: Int): Column = {
    val target = if (bits == 64) "long" else "int"
    val m = regexp_extract(c, "[-+]?\\d+", 0)
    when(m === "", lit(null).cast(target))
      .otherwise(m.try_cast("long").try_cast(target))
  }

  /** numeric_comma (a_dataset_type.py:74, locale-based strtod): ',' is THE
    * decimal separator — a '.' anywhere makes the value bad (the C locale
    * parse stops at '.' leaving trailing garbage), exactly mirroring how
    * '3.14' fails under a comma locale.
    */
  def floatParseComma(c: Column): Column =
    when(c.contains("."), lit(null).cast("double"))
      .otherwise(floatParse(translate(c, ",", ".")))

  /** bits32 (dataset_type.py: unsigned 32-bit): reject negatives and
    * values ≥ 2^32; stored as LongType (uint32 always fits).
    */
  def bits(c: Column, bits: Int, base: Int): Column =
    if (bits == 32) {
      val v = intBase(c, 64, base)
      when(v >= 0L && v < (1L << 32), v)
    } else {
      // bits64: full uint64 range needs DECIMAL(20,0)
      val dec = "decimal(20,0)"
      val lim = BigDecimal("18446744073709551616")
      base match {
        case 10 =>
          val v = trim(c).try_cast(dec)
          when(v >= 0 && v < lit(lim).cast(dec), v)
        case 16 | 8 =>
          // conv() is unsigned-64 exact for in-range values
          val valid = if (base == 16) "^[0-9a-fA-F]+$" else "^[0-7]+$"
          val src = regexp_replace(trim(c), if (base == 16) "(?i)^0x" else "(?i)^0o", "")
          when(src.rlike(valid), conv(src, base, 10).try_cast(dec))
        case b => throw new IllegalArgumentException(s"unsupported bits base $b")
      }
    }

  /** Strip variants (bytesstrip/asciistrip/unicodestrip): ASCII whitespace
    * removed from both ends (dataset_type.py strip templates).
    */
  def stripWs(c: Column): Column =
    regexp_replace(c, "^\\s+|\\s+$", "")

  /** ascii strict: non-ASCII input is a bad value (reference
    * 'ascii:strict', dataset_type.py:157-172).
    */
  def asciiStrict(c: Column): Column =
    when(c.rlike("^[\\x00-\\x7F]*$"), c)

  /** ascii / ascii:replace (reference default, dataset_type.py:143-152,
    * 794-798): bytes > 127 become \ooo octal escapes.
    */
  def asciiReplace(c: Column): Column =
    KernelCall.column(c, AsciiOctal(escapeBackslash = false))

  /** ascii:encode (dataset_type.py:799-800): like replace, plus backslash
    * itself escapes as \134 — the output round-trips unambiguously.
    */
  def asciiEncode(c: Column): Column =
    KernelCall.column(c, AsciiOctal(escapeBackslash = true))

  /** unicode:<codec>[/errors] (dataset_type.py:75-100, 789-792): decode a
    * byte-preserving string's raw bytes with `codec`; `errors` ∈
    * strict (failure → bad value) / replace (U+FFFD) / ignore (drop).
    */
  def unicodeRecode(c: Column, codec: String, errors: String): Column = {
    RecodeHelper.validate(codec, errors)
    KernelCall.column(c, RecodeCharset(codec, errors))
  }

  /** complex64/32 (dataset_type.py:734-737, Python complex() grammar):
    * '(1+2j)', '1+2j', '-3j', '42' → struct(re, im); unparseable → null.
    */
  def parseComplex(c: Column, bits: Int): Column = {
    val dt = if (bits == 64) "double" else "float"
    val t = regexp_replace(trim(c), "^\\((.*)\\)$", "$1")
    val numU = "(?:\\d+\\.?\\d*|\\.\\d+)(?:[eE][-+]?\\d+)?"
    val re = s"[-+]?$numU"
    val im = s"[-+]$numU"
    val full = s"^($re)($im)[jJ]$$"
    val imOnly = s"^($re)[jJ]$$"
    val reOnly = s"^($re)$$"
    when(t.rlike(full),
        struct(regexp_extract(t, full, 1).try_cast(dt).as("re"),
               regexp_extract(t, full, 2).try_cast(dt).as("im")))
      .when(t.rlike(imOnly),
        struct(lit(0).cast(dt).as("re"),
               regexp_extract(t, imOnly, 1).try_cast(dt).as("im")))
      .when(t.rlike(reOnly),
        struct(regexp_extract(t, reOnly, 1).try_cast(dt).as("re"),
               lit(0).cast(dt).as("im")))
      .otherwise(lit(null).cast(s"struct<re:$dt,im:$dt>"))
  }

  /** strftime-style format → Spark DateTimeFormatter pattern (the subset the
    * reference tests use; dataset_type.py:766-771 `%`-codes).
    */
  def strftimeToSpark(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb ++= "yyyy"
          case 'y' => sb ++= "yy"
          case 'm' => sb ++= "MM"
          case 'd' => sb ++= "dd"
          case 'H' => sb ++= "HH"
          case 'M' => sb ++= "mm"
          case 'S' => sb ++= "ss"
          case 'f' => sb ++= "SSSSSS"
          case 'j' => sb ++= "DDD"
          case 'b' => sb ++= "MMM"
          case 'B' => sb ++= "MMMM"
          case 'a' => sb ++= "EEE"
          case 'A' => sb ++= "EEEE"
          case 'p' => sb ++= "a"
          case '%' => sb += '%'
          case o   => sb += o
        }
        i += 2
      } else {
        // escape pattern letters that would otherwise be interpreted
        if (ch.isLetter) { sb += '\''; sb += ch; sb += '\'' } else sb += ch
        i += 1
      }
    }
    sb.toString
  }

  /** floatbooli (dataset_type.py whole=0): strtod the PREFIX, truthiness of
    * whatever parsed; no conversion at all still yields 0.0 → false —
    * floatbooli never produces a bad value on non-null input.
    */
  def floatBoolI(c: Column): Column = {
    val lead = regexp_extract(c,
      "^\\s*([-+]?(\\d+\\.?\\d*|\\.\\d+)([eE][-+]?\\d+)?|[-+]?(?i)(inf(inity)?|nan))", 1)
    when(c.isNull, lit(null).cast("boolean"))
      .otherwise(coalesce(floatParse(lead) =!= 0.0, lit(false)))
  }

  /** strftime format → matching regex, for the `i`-suffixed date/time
    * variants (dataset_type.py:812-828 whole=0: parse the leading value,
    * ignore trailing garbage).
    */
  def strftimeToRegex(fmt: String): String = {
    val sb = new StringBuilder("^\\s*(")
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb ++= "\\d{4}"
          case 'y' => sb ++= "\\d{2}"
          case 'm' | 'd' | 'H' | 'M' | 'S' => sb ++= "\\d{1,2}"
          case 'f' => sb ++= "\\d{1,6}"
          case 'j' => sb ++= "\\d{1,3}"
          case 'b' | 'a' => sb ++= "[A-Za-z]{3}"
          case 'B' | 'A' => sb ++= "[A-Za-z]+"
          case 'p' => sb ++= "[APap][Mm]"
          case '%' => sb ++= "%"
          case o   => sb += o
        }
        i += 2
      } else {
        sb ++= java.util.regex.Pattern.quote(ch.toString)
        i += 1
      }
    }
    sb ++= ")"
    sb.toString
  }

  /** Leading-match extraction for the i date/time variants. */
  def extractLeading(c: Column, fmt: String): Column = {
    val m = regexp_extract(c, strftimeToRegex(fmt), 1)
    when(m === "", lit(null).cast("string")).otherwise(m)
  }

  /** date:%fmt — with `%s` = unix epoch seconds (dataset_type.py:787-803). */
  def parseDate(c: Column, fmt: String): Column = fmt match {
    case "%s" => to_date(timestamp_seconds(c.try_cast("long")))
    case f    => try_to_timestamp(c, lit(strftimeToSpark(f))).cast("date")
  }

  /** datetime:%fmt; `%s` epoch seconds; `java` = epoch millis. */
  def parseDatetime(c: Column, fmt: String): Column = fmt match {
    case "%s"   => timestamp_seconds(c.try_cast("long"))
    case "java" => timestamp_millis(c.try_cast("long"))
    case f      => try_to_timestamp(c, lit(strftimeToSpark(f)))
  }

  /** time:%fmt → LongType micros-since-midnight (no Spark time type,
    * SURVEY §1.2). Default format HH:MM:SS[.ffffff].
    */
  def parseTimeMicros(c: Column): Column = {
    val p = "^(\\d{1,2}):(\\d{2}):(\\d{2})(?:\\.(\\d{1,6}))?$"
    val h = regexp_extract(c, p, 1).try_cast("long")
    val m = regexp_extract(c, p, 2).try_cast("long")
    val s = regexp_extract(c, p, 3).try_cast("long")
    val f = rpad(coalesce(regexp_extract(c, p, 4), lit("0")), 6, "0").try_cast("long")
    when(c.rlike(p) && h < 24 && m < 60 && s < 60,
      ((h * 3600 + m * 60 + s) * 1000000L) + f)
  }

  /** micros-since-midnight → display string (export round-trip helper). */
  def formatTimeMicros(c: Column): Column = {
    val secs = (c / 1000000L).cast("long")
    val frac = (c % 1000000L).cast("long")
    concat(
      lpad((secs / 3600).cast("string"), 2, "0"), lit(":"),
      lpad(((secs % 3600) / 60).cast("string"), 2, "0"), lit(":"),
      lpad((secs % 60).cast("string"), 2, "0"),
      when(frac > 0, concat(lit("."), rpad(lpad(frac.cast("string"), 6, "0"), 6, "0")))
        .otherwise(lit("")))
  }
}
