package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The `dataset_type` conversions (reference
  * standard_methods/dataset_type.py:730-828), one `Column` per spec, each
  * NULL on unparseable input (the caller layers defaults / filter_bad on
  * top).
  *
  * The hot specs -- int64/int32 in bases 10, 16, 8 and 0, the
  * garbage-tolerant int64i/int32i, float64/float32/number (strtod
  * spellings, numeric_comma), strbool, and date/datetime in the default
  * formats, `%s` and `java` -- are byte-level [[Kernel]]s run by
  * [[KernelCall]]: each reads the value's UTF-8 bytes once, with no regex,
  * no `String` (except a float of more than 18 significant digits, see
  * [[ParseDouble]]) and no java.time formatter, the same one-pass shape as
  * the reference's C converters. The rarer specs stay compositions of
  * Spark built-ins. Either way every conversion stays inside whole-stage
  * codegen.
  */
object ParseFunctions {

  /** strbool (dataset_type.py:772-775): false/0/f/no/off/nil/null/'' →
    * false, anything else (non-null) → true. Case-insensitive, NO trimming —
    * whitespace-only input is true in the reference
    * (a_test_dataset_type_corner_cases.py:149).
    */
  def strBool(c: Column): Column = KernelCall.column(c, StrBool)

  /** Float parse with the reference's C-strtod spellings: inf/infinity/nan
    * in any case with optional sign; with `comma`, ',' is the decimal
    * separator ([[ParseDouble]]).
    */
  def floatParse(c: Column, comma: Boolean = false): Column =
    KernelCall.column(c, ParseDouble(comma))

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

  /** A long parse narrowed to int for 32 bits: out of range is NULL (a bad
    * value, as the reference rejects it, a_test_dataset_type_corner_cases.py
    * "nearly good numbers"), not an ANSI overflow error.
    */
  private def narrow(v: Column, bits: Int): Column =
    if (bits == 64) v else v.try_cast("int")

  /** int64/int32 with base 10, 16, 8 or 0 (dataset_type.py:746-765; base 0
    * auto-detects a 0x/0o prefix like Python int(s, 0)), see [[ParseLong]].
    */
  def intBase(c: Column, bits: Int, base: Int): Column =
    narrow(KernelCall.column(c, ParseLong(base)), bits)

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

  /** int64i/int32i: the first signed integer in the value ([[FirstLong]]). */
  def intI(c: Column, bits: Int): Column =
    narrow(KernelCall.column(c, FirstLong), bits)

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

  /** date:%fmt — with `%s` = unix epoch seconds (dataset_type.py:787-803).
    * The default format is read in time zone `zone`, the session time zone
    * of the frame being typed; other formats resolve the session zone
    * themselves when Spark analyzes the frame.
    */
  def parseDate(c: Column, fmt: String, zone: String): Column = fmt match {
    case "%Y-%m-%d" =>
      KernelCall.column(c, ParseTimestamp(time = false, zone)).cast("date")
    case "%s"       => to_date(KernelCall.column(c, EpochTimestamp(1000000L)))
    case f          => try_to_timestamp(c, lit(strftimeToSpark(f))).cast("date")
  }

  /** datetime:%fmt; `%s` epoch seconds; `java` = epoch millis. `zone` as
    * in [[parseDate]].
    */
  def parseDatetime(c: Column, fmt: String, zone: String): Column = fmt match {
    case "%Y-%m-%d %H:%M:%S" => KernelCall.column(c, ParseTimestamp(time = true, zone))
    case "%s"   => KernelCall.column(c, EpochTimestamp(1000000L))
    case "java" => KernelCall.column(c, EpochTimestamp(1000L))
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
}

/** Byte scanning shared by the parse kernels. Bytes of a non-ASCII
  * character are all ≥ 0x80, so they never match an ASCII test here.
  */
private[expr] object ParseBytes {
  /** A byte Spark's string-to-integral cast trims: whitespace or an ISO
    * control character (0x00-0x20, 0x7F).
    */
  def wsOrControl(b: Byte): Boolean = (b & 0xff) <= 0x20 || b == 0x7f

  def digit(b: Byte): Int = if (b >= '0' && b <= '9') b - '0' else -1

  /** A digit of `radix` (8, 10 or 16), else -1. */
  def digit(b: Byte, radix: Int): Int = {
    val d =
      if (b >= '0' && b <= '9') b - '0'
      else if (b >= 'a' && b <= 'f') b - 'a' + 10
      else if (b >= 'A' && b <= 'F') b - 'A' + 10
      else -1
    if (d < radix) d else -1
  }

  def lowerAscii(b: Byte): Int = if (b >= 'A' && b <= 'Z') b + 32 else b

  /** Whether bytes [from, until) equal ASCII `word`, ignoring ASCII case. */
  def equalsIgnoreCase(s: UTF8String, from: Int, until: Int, word: String): Boolean =
    until - from == word.length && {
      var i = 0
      while (i < word.length && lowerAscii(s.getByte(from + i)) == word.charAt(i)) i += 1
      i == word.length
    }

  /** Bytes [from, until) as a long, the way Spark casts a trimmed string:
    * an optional sign, then ASCII digits only. Empty, another byte or a
    * value outside the long range give null.
    */
  def decimalLong(s: UTF8String, from: Int, until: Int): java.lang.Long = {
    var i = from
    val neg = i < until && s.getByte(i) == '-'
    if (neg || (i < until && s.getByte(i) == '+')) i += 1
    if (i >= until) return null
    // accumulated negative, so Long.MinValue fits
    var r = 0L
    while (i < until) {
      val d = digit(s.getByte(i))
      if (d < 0 || r < Long.MinValue / 10) return null
      r = r * 10 - d
      if (r > 0) return null
      i += 1
    }
    if (neg) r else if (r == Long.MinValue) null else -r
  }

  /** Spark's string-to-long cast: [[decimalLong]] after trimming
    * [[wsOrControl]] bytes from both ends.
    */
  def castLong(s: UTF8String): java.lang.Long = {
    var a = 0
    var z = s.numBytes
    while (a < z && wsOrControl(s.getByte(a))) a += 1
    while (z > a && wsOrControl(s.getByte(z - 1))) z -= 1
    decimalLong(s, a, z)
  }
}

import ParseBytes._

/** int64 in base 10, 16, 8 or 0 (dataset_type.py:746-765), null when
  * unparseable or outside the long range.
  *
  *  - 10: Spark's string-to-long cast: whitespace and control bytes trimmed,
  *    an optional sign, ASCII digits.
  *  - 16 and 8: spaces trimmed; an optional `0x`/`0o` prefix in any case,
  *    kept after a sign before it (`-0x1f`) or followed by spaces and its
  *    own sign (`0x -1f`); then an optional sign and at least one digit of
  *    the base; then at most one line terminator (`\n`, `\r`, `\r\n`,
  *    U+0085, U+2028, U+2029), as a regex `$` allows.
  *  - 0: base 16 after a `0x` prefix (an optional sign before it), base 8
  *    after `0o`, else base 10, like Python's `int(s, 0)`.
  */
case class ParseLong(base: Int) extends Kernel1[UTF8String, java.lang.Long] {
  require(Seq(0, 8, 10, 16).contains(base), s"unsupported int base $base")
  def prettyName: String = "graft_parse_long"
  def inputType: DataType = StringType
  def dataType: DataType = LongType
  override def nullable: Boolean = true

  def apply(s: UTF8String): java.lang.Long = base match {
    case 10 => castLong(s)
    case 0 =>
      var i = 0
      while (i < s.numBytes && s.getByte(i) == ' ') i += 1
      if (i < s.numBytes && (s.getByte(i) == '-' || s.getByte(i) == '+')) i += 1
      if (prefixed(s, i, 'x')) radix(s, 16)
      else if (prefixed(s, i, 'o')) radix(s, 8)
      else castLong(s)
    case b => radix(s, b)
  }

  private def prefixed(s: UTF8String, i: Int, mark: Char): Boolean =
    i + 1 < s.numBytes && s.getByte(i) == '0' && lowerAscii(s.getByte(i + 1)) == mark

  private def radix(s: UTF8String, r: Int): java.lang.Long = {
    var a = 0
    var z = s.numBytes
    while (a < z && s.getByte(a) == ' ') a += 1
    while (z > a && s.getByte(z - 1) == ' ') z -= 1
    var i = a
    var signed = false
    var neg = false
    if (i < z && (s.getByte(i) == '-' || s.getByte(i) == '+')) {
      signed = true; neg = s.getByte(i) == '-'; i += 1
    }
    if (prefixed(s, i, if (r == 16) 'x' else 'o')) {
      i += 2
      if (!signed) {
        while (i < z && s.getByte(i) == ' ') i += 1
        if (i < z && (s.getByte(i) == '-' || s.getByte(i) == '+')) {
          neg = s.getByte(i) == '-'; i += 1
        }
      }
    }
    val first = i
    var v = 0L
    var d = if (i < z) digit(s.getByte(i), r) else -1
    while (d >= 0) {
      if (v > (Long.MaxValue - d) / r) return null
      v = v * r + d
      i += 1
      d = if (i < z) digit(s.getByte(i), r) else -1
    }
    if (i == first || !lineEnd(s, i, z)) null
    else if (neg) -v else v
  }

  /** Whether [i, z) is empty or one line terminator. */
  private def lineEnd(s: UTF8String, i: Int, z: Int): Boolean = z - i match {
    case 0 => true
    case 1 => s.getByte(i) == '\n' || s.getByte(i) == '\r'
    case 2 => s.getByte(i) == '\r' && s.getByte(i + 1) == '\n' ||
      (s.getByte(i) & 0xff) == 0xc2 && (s.getByte(i + 1) & 0xff) == 0x85
    case 3 => (s.getByte(i) & 0xff) == 0xe2 && (s.getByte(i + 1) & 0xff) == 0x80 &&
      ((s.getByte(i + 2) & 0xff) == 0xa8 || (s.getByte(i + 2) & 0xff) == 0xa9)
    case _ => false
  }
}

/** int64i (dataset_type.py:812-828): the first signed integer anywhere in
  * the value (a sign counts when it is right before the first ASCII
  * digit), garbage around it ignored; null when there is no digit or the
  * integer is outside the long range.
  */
case object FirstLong extends Kernel1[UTF8String, java.lang.Long] {
  def prettyName: String = "graft_first_long"
  def inputType: DataType = StringType
  def dataType: DataType = LongType
  override def nullable: Boolean = true

  def apply(s: UTF8String): java.lang.Long = {
    val n = s.numBytes
    var p = 0
    while (p < n && digit(s.getByte(p)) < 0) p += 1
    if (p == n) return null
    var z = p
    while (z < n && digit(s.getByte(z)) >= 0) z += 1
    val from = if (p > 0 && (s.getByte(p - 1) == '-' || s.getByte(p - 1) == '+')) p - 1 else p
    decimalLong(s, from, z)
  }
}

/** float64 with the strtod spellings (dataset_type.py float conversions):
  * whitespace and control bytes trimmed, then `inf`/`infinity`/`nan` in
  * any case with an optional sign, or Java's decimal grammar (an optional
  * sign, digits with an optional '.', an optional exponent, an optional
  * `f`/`d` suffix); Java's hexadecimal floats are also read. Null when
  * unparseable. Up to 18 significant digits and a power of ten up to 22
  * are computed exactly in one rounding; longer values go through
  * `Double.parseDouble`, which rounds them correctly too.
  *
  * With `comma` (numeric_comma, a_dataset_type.py:74, a locale strtod) ','
  * is THE decimal separator and a '.' anywhere makes the value bad, as
  * '3.14' fails under a comma locale.
  *
  * Two signed NaN spellings keep a quirk of the composition this replaced:
  * `+nan`/`-nan` parse only when the trimmed bytes were spaces, except in
  * Java's exact case `+NaN`/`-NaN`.
  */
case class ParseDouble(comma: Boolean) extends Kernel1[UTF8String, java.lang.Double] {
  def prettyName: String = "graft_parse_double"
  def inputType: DataType = StringType
  def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private val dot: Byte = if (comma) ',' else '.'

  def apply(s: UTF8String): java.lang.Double = {
    var a = 0
    var z = s.numBytes
    if (comma) {
      var i = 0
      while (i < z) { if (s.getByte(i) == '.') return null; i += 1 }
    }
    while (a < z && (s.getByte(a) & 0xff) <= 0x20) a += 1
    while (z > a && (s.getByte(z - 1) & 0xff) <= 0x20) z -= 1
    if (z == a) return null
    val sign = s.getByte(a)
    val neg = sign == '-'
    val i = if (neg || sign == '+') a + 1 else a
    if (i < z && lowerAscii(s.getByte(i)) >= 'a') special(s, a, i, z, neg)
    else decimal(s, a, i, z, neg)
  }

  private def special(s: UTF8String, a: Int, i: Int, z: Int, neg: Boolean): java.lang.Double =
    if (equalsIgnoreCase(s, i, z, "inf") || equalsIgnoreCase(s, i, z, "infinity"))
      if (neg) Double.NegativeInfinity else Double.PositiveInfinity
    else if (equalsIgnoreCase(s, i, z, "nan") && (i == a ||
        (s.getByte(i) == 'N' && s.getByte(i + 1) == 'a' && s.getByte(i + 2) == 'N') ||
        onlySpacesTrimmed(s, a, z)))
      Double.NaN
    else null

  private def onlySpacesTrimmed(s: UTF8String, a: Int, z: Int): Boolean = {
    var i = 0
    while (i < a && s.getByte(i) == ' ') i += 1
    var j = s.numBytes
    while (j > z && s.getByte(j - 1) == ' ') j -= 1
    i == a && j == z
  }

  private def decimal(s: UTF8String, a: Int, start: Int, z: Int, neg: Boolean): java.lang.Double = {
    if (start + 1 < z && s.getByte(start) == '0' && lowerAscii(s.getByte(start + 1)) == 'x')
      return slow(s, a, z)
    var i = start
    var m = 0L        // significant digits, leading zeros skipped
    var sig = 0       // how many of them
    var scale = 0     // digits after the separator
    var digits = 0
    var d = if (i < z) digit(s.getByte(i)) else -1
    while (d >= 0) {
      if (m > 0 || d > 0) { m = m * 10 + d; sig += 1 }
      digits += 1; i += 1
      d = if (i < z) digit(s.getByte(i)) else -1
    }
    if (i < z && s.getByte(i) == dot) {
      i += 1
      d = if (i < z) digit(s.getByte(i)) else -1
      while (d >= 0) {
        if (m > 0 || d > 0) { m = m * 10 + d; sig += 1 }
        scale += 1; digits += 1; i += 1
        d = if (i < z) digit(s.getByte(i)) else -1
      }
    }
    if (digits == 0 || sig > 18) return if (digits == 0) null else slow(s, a, z)
    var exp = 0
    if (i < z && lowerAscii(s.getByte(i)) == 'e') {
      i += 1
      val eneg = i < z && s.getByte(i) == '-'
      if (i < z && (eneg || s.getByte(i) == '+')) i += 1
      val first = i
      d = if (i < z) digit(s.getByte(i)) else -1
      while (d >= 0) {
        if (exp < 100000) exp = exp * 10 + d
        i += 1
        d = if (i < z) digit(s.getByte(i)) else -1
      }
      if (i == first) return null
      if (eneg) exp = -exp
    }
    if (i < z && "fFdD".indexOf(s.getByte(i)) >= 0) i += 1
    if (i != z) return null
    val e = exp - scale
    val v =
      if (m == 0) 0.0
      else if (m < (1L << 53) && e >= 0 && e <= 22) m * ParseDouble.Pow10(e)
      else if (m < (1L << 53) && e < 0 && e >= -22) m / ParseDouble.Pow10(-e)
      else return slow(s, a, z)
    if (neg) -v else v
  }

  /** `Double.parseDouble` of the trimmed bytes, ',' read as '.' under
    * `comma`.
    */
  private def slow(s: UTF8String, a: Int, z: Int): java.lang.Double = {
    val str = new String(s.getBytes, a, z - a, java.nio.charset.StandardCharsets.ISO_8859_1)
    try java.lang.Double.parseDouble(if (comma) str.replace(',', '.') else str)
    catch { case _: NumberFormatException => null }
  }
}

object ParseDouble {
  private val Pow10: Array[Double] = Array.tabulate(23)(i => math.pow(10, i))
}

/** strbool (dataset_type.py:772-775): false, 0, f, no, off, nil, null and
  * the empty string, in any ASCII case, are false; anything else is true.
  * No trimming: whitespace-only input is true.
  */
case object StrBool extends Kernel1[UTF8String, Boolean] {
  def prettyName: String = "graft_strbool"
  def inputType: DataType = StringType
  def dataType: DataType = BooleanType

  private val Falsy = Array("false", "0", "f", "no", "off", "nil", "null")

  def apply(s: UTF8String): Boolean = {
    val n = s.numBytes
    var i = 0
    while (i < Falsy.length && !equalsIgnoreCase(s, 0, n, Falsy(i))) i += 1
    n > 0 && i == Falsy.length
  }
}

/** A wall-clock `yyyy-MM-dd` value (`time` false) or `yyyy-MM-dd
  * HH:mm:ss` (`time` true), read in `zone` as an instant: what
  * `try_to_timestamp` gives for these patterns, which are the defaults of
  * date and datetime (dataset_type.py:766-771).
  *
  * The year is four digits, or more after a '+', or four or more after a
  * '-' (not -0000); every other field is exactly two ASCII digits; the
  * date must exist in the proleptic Gregorian calendar, and hours run to
  * 23, minutes and seconds to 59. A local time in a zone's gap moves
  * forward by the gap and one in an overlap takes the earlier offset.
  * Null when unparseable or outside the timestamp range.
  */
case class ParseTimestamp(time: Boolean, zone: String) extends Kernel1[UTF8String, java.lang.Long] {
  def prettyName: String = "graft_parse_timestamp"
  def inputType: DataType = StringType
  def dataType: DataType = TimestampType
  override def nullable: Boolean = true

  @transient private lazy val zoneId = DateTimeUtils.getZoneId(zone)

  def apply(s: UTF8String): java.lang.Long = {
    val n = s.numBytes
    if (n == 0) return null
    val sign = s.getByte(0)
    var i = if (sign == '-' || sign == '+') 1 else 0
    val first = i
    var year = 0L
    while (i < n && digit(s.getByte(i)) >= 0) {
      if (year < 1000000L) year = year * 10 + digit(s.getByte(i))
      i += 1
    }
    val width = i - first
    if (width < 4 || width > 19 || (sign == '+' && width == 4) ||
        (first == 0 && width > 4) || (sign == '-' && year == 0) || year > 300000L) return null
    if (sign == '-') year = -year
    val month = field(s, i, '-')
    val day = field(s, i + 3, '-')
    val hour = if (time) field(s, i + 6, ' ') else 0
    val minute = if (time) field(s, i + 9, ':') else 0
    val second = if (time) field(s, i + 12, ':') else 0
    if (i + (if (time) 15 else 6) != n || month < 1 || month > 12 || day < 1 ||
        day > monthLength(year, month) || hour < 0 || hour > 23 || minute < 0 ||
        minute > 59 || second < 0 || second > 59) return null
    val secs = java.time.ZonedDateTime.of(year.toInt, month, day, hour, minute, second, 0, zoneId)
      .toEpochSecond
    if (secs > Long.MaxValue / 1000000L || secs < Long.MinValue / 1000000L) null
    else secs * 1000000L
  }

  /** The two digits after separator `sep` at `i`, or -1. */
  private def field(s: UTF8String, i: Int, sep: Char): Int =
    if (i + 2 < s.numBytes && s.getByte(i) == sep) {
      val h = digit(s.getByte(i + 1))
      val l = digit(s.getByte(i + 2))
      if (h < 0 || l < 0) -1 else h * 10 + l
    } else -1

  private def monthLength(year: Long, month: Int): Int = month match {
    case 2 => if ((year & 3) == 0 && (year % 100 != 0 || year % 400 == 0)) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }
}

/** Epoch seconds (`unitMicros` 1000000, the `%s` format) or milliseconds
  * (1000, `java`) as a timestamp: the integer read as Spark casts a string
  * to long; null when unparseable or outside the timestamp range.
  */
case class EpochTimestamp(unitMicros: Long) extends Kernel1[UTF8String, java.lang.Long] {
  def prettyName: String = "graft_epoch_timestamp"
  def inputType: DataType = StringType
  def dataType: DataType = TimestampType
  override def nullable: Boolean = true

  def apply(s: UTF8String): java.lang.Long = {
    val v = castLong(s)
    if (v == null || v > Long.MaxValue / unitMicros || v < Long.MinValue / unitMicros) null
    else v * unitMicros
  }
}
