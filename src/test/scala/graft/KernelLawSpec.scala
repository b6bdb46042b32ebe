package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, GraftBridge, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.expr._
import graft.ops.{Bpe, Unigram, WordPiece}
import TestSpark.spark

/** Laws every per-row kernel keeps, table-driven over all of them: on
  * nulls, empty arrays, null elements, hostile unicode and each kernel's
  * null-returning edges, interpreted `eval`, generated code (the
  * DataFrame path, with codegen fallback off, calling the kernel through
  * its reference object) and a plain-Scala model agree; equal parameters
  * give semantically equal expressions and different ones do not; a child
  * of the wrong type fails analysis.
  */
class KernelLawSpec extends AnyFunSuite {

  // combining accent, astral pair, byte-token and marker look-alikes, a
  // control character, right-to-left override, byte-order mark
  private val hostile: Seq[String] = Seq("", "hello", "abab", "\u00DF",
    "\u4E2D\u6587", "e\u0301", "\uD83D\uDE00x", "<0x41>", "##ab", "a\u0001b",
    "\u202Eabc", "\uFEFF", "z\u2603")

  private val tokenArrays: Seq[Seq[String]] = Seq(null, Seq(), Seq(null),
    Seq("a", null, "b"), Seq("", "a"), Seq("a", "b", "a", "b"), hostile)

  private val counts = Seq(("hello", 5L), ("abab", 4L), ("ba", 3L),
    ("world", 2L))
  private val bpe = Bpe.trainFromCounts(counts, 12)
  private val uni = Unigram.trainFromCounts(counts, vocabSize = 20,
    byteFallback = true)
  private val wp = WordPiece.trainFromCounts(counts, 12)

  private def md5Prefix(s: String, hexDigits: Int): Long =
    java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString
      .take(hexDigits), 16)

  /** concat_ws: nulls skipped, no separator for them. */
  private def joinWs(sep: String, xs: Seq[String]): String =
    xs.filter(_ != null).mkString(sep)

  private def decodeModel(tokens: Seq[Seq[String]], wordPiece: Boolean): String = {
    val byteToken = "<0x([0-9A-F]{2})>".r
    tokens.map { t =>
      if (t == null) ""
      else new String(t.zipWithIndex.filter(_._1 != null).flatMap { case (p, i) =>
        val q = if (wordPiece && i > 0 && p.length > 2 && p.startsWith("##") &&
                    !byteToken.matches(p)) p.drop(2) else p
        q match {
          case byteToken(h) => Seq(Integer.parseInt(h, 16).toByte)
          case _            => q.getBytes(UTF_8).toSeq
        }
      }.toArray, UTF_8)
    }.mkString(" ")
  }

  private val nestedArrays: Seq[Seq[Seq[String]]] = Seq(null, Seq(), Seq(null),
    Seq(Seq()), Seq(Seq("un", "##aff", "##able"), null, Seq("##x", "##y")),
    Seq(Seq("<0xE2>", "<0x98>", "<0x83>"), Seq("a", null, "##b", "<0x41>")),
    hostile.map(h => uni.encodeWord(h).toSeq))

  /** One kernel under test: how to build it (twice, for the equality
    * law), its SQL name, its argument tuples, its plain-Scala model over a
    * tuple with no null argument, and the child types when they are not
    * the kernel's own `inputTypes`.
    */
  private case class Law(make: () => Kernel, prettyName: String,
                         inputs: Seq[Seq[Any]], model: Seq[Any] => Any,
                         types: Seq[DataType] = Nil)

  /** A one-argument law. */
  private def law(make: () => Kernel, prettyName: String, inputs: Seq[Any],
                  model: Any => Any, types: Seq[DataType] = Nil): Law =
    Law(make, prettyName, inputs.map(Seq(_)), args => model(args.head), types)

  private def onTokens(f: Seq[String] => Any): Any => Any =
    v => f(v.asInstanceOf[Seq[String]])

  private def encodeModel(m: SubwordModel): Any => Any =
    onTokens(_.map(t => if (t == null) Seq() else m.encodeWord(t).toSeq))

  private def shingles(n: Int): Any => Any = onTokens { toks =>
    if (toks.size < n) Seq(md5Prefix(joinWs("\u0001", toks), 10))
    else toks.sliding(n).map(w => md5Prefix(joinWs("\u0001", w), 10))
      .toSeq.distinct
  }

  private def positioned(n: Int): Any => Any = onTokens { toks =>
    if (toks.size < n) Seq()
    else toks.sliding(n).map(w => md5Prefix(joinWs(" ", w), 15)).toSeq
  }

  private def tokenHashes(width: Int): Any => Any = onTokens(_.map(t =>
    md5Prefix(if (t == null) "" else t, width / 4)))

  // ---- vectors and sketches ----

  private def nums[A](v: Any): Seq[A] = v.asInstanceOf[Seq[A]]

  /** Element-wise pair fold, null on a length mismatch or a null element. */
  private def pairFold[A](z: A)(f: (A, Any, Any) => A): Seq[Any] => Any = {
    case Seq(x: Seq[_], y: Seq[_]) =>
      if (x.size != y.size || (x ++ y).contains(null)) null
      else x.zip(y).foldLeft(z) { case (acc, (a, b)) => f(acc, a, b) }
  }

  private val doublePairs: Seq[Seq[Any]] = Seq(
    Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)), Seq(Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1)),
    Seq(Seq(), Seq()), Seq(Seq(1.0), Seq(1.0, 2.0)), Seq(Seq(1.0, null), Seq(1.0, 2.0)),
    Seq(null, Seq(1.0)), Seq(Seq(1.0), null))

  private val longPairs: Seq[Seq[Any]] = Seq(
    Seq(Seq(1L, 5L), Seq(4L, 1L)), Seq(Seq(-7L, 0L, 9L), Seq(3L, 2L, -1L)),
    Seq(Seq(), Seq()), Seq(Seq(1L), Seq(1L, 2L)), Seq(Seq(1L, null), Seq(1L, 2L)),
    Seq(null, Seq(1L)))

  private val doubleVectors: Seq[Any] = Seq(null, Seq(), Seq(null),
    Seq(1.0, -2.0), Seq(0.5, 0.25), Seq(1.0, null), Seq(1.0), Seq(0.0, 0.0),
    Seq(1.5, -2.0, null, 0.75))

  private val signDim = 2
  private val signWeights: Array[Double] =
    Array(0.5, -1.0, -0.25, 0.75, 1.0, 1.0, -1.0, 0.5, 0.0, -1.0, 0.25, 0.25)

  private def signModel(v: Any): Any = {
    val xs = nums[Any](v)
    Seq.tabulate(2) { t =>
      if (xs.size != signDim || xs.contains(null)) 0L
      else (0 until 3).map { p =>
        val dot = (0 until signDim).foldLeft(0.0) { (acc, j) =>
          acc + xs(j).asInstanceOf[Double] * signWeights((t * 3 + p) * signDim + j)
        }
        if (dot >= 0) 1L << p else 0L
      }.sum
    }
  }

  private def quantizeModel(shift: Int): Any => Any = v => nums[Any](v).map {
    case null      => null
    case f: Float  => math.floor(f.toDouble * (1L << shift)).toLong
    case d: Double => math.floor(d * (1L << shift)).toLong
  }

  private def int8Model(v: Any): Any = {
    val xs = nums[Any](v)
    val scale = xs.collect { case d: Double => math.abs(d) }
      .foldLeft(0.0)(math.max) / 127.0
    Row(scale, xs.map {
      case _ if scale == 0.0 => 0L
      case null              => null
      case d: Double         => math.floor(d / scale + 0.5).toLong
    })
  }

  private val centroids: Array[Long] = Array(0L, 0L, 8L, 8L, -12L, 20L, 4L, 4L)

  /** struct(dist, local index) of the nearest of centroids `from until
    * until` to v·fp, ties to the lowest; null for a malformed vector.
    */
  private def assignModel(v: Any, fp: Long, from: Int, until: Int): Any = {
    val xs = nums[Any](v)
    if (xs.size != 2 || xs.contains(null) || until <= from) null
    else {
      val (d, j) = (from until until).map { j =>
        (xs.indices.map { i =>
          val d = xs(i).asInstanceOf[Long] * fp - centroids(j * 2 + i); d * d
        }.sum, (j - from).toLong)
      }.min
      Row(d, j)
    }
  }

  private val longVectors: Seq[Any] = Seq(null, Seq(), Seq(1L, 2L), Seq(-3L, 5L),
    Seq(1L, 1L), Seq(1L), Seq(1L, null), Seq(2L, 2L, 2L))

  private val groupedInputs: Seq[Seq[Any]] =
    Seq(0L, 1L, 2L, 3L, -1L).flatMap(p => longVectors.map(v => Seq(v, p))) :+
      Seq(Seq(1L, 2L), null)

  private val offsets: Array[Int] = Array(0, 2, 2, 4)

  private def pqModel(ksub: Int): Seq[Any] => Any = {
    case Seq(codes: Seq[Any] @unchecked, dtab: Seq[Any] @unchecked) =>
      if (dtab.size != codes.size * ksub || codes.contains(null)) null
      else {
        val cs = codes.map(_.asInstanceOf[Long])
        if (cs.exists(c => c < 0 || c >= ksub)) null
        else {
          val picked = cs.zipWithIndex.map { case (c, j) => dtab(j * ksub + c.toInt) }
          if (picked.contains(null)) null else picked.map(_.asInstanceOf[Long]).sum
        }
      }
  }

  private val hashArrays: Seq[Any] = Seq(null, Seq(), Seq(null),
    Seq(0xAL, 0x8L, 0x2L), Seq(null, 5L, 7L), Seq(1L << 39, (1L << 40) - 1, 0L),
    Seq(123456789L, 987654321L, 123456789L))

  private def minhashModel(k: Int): Any => Any = v => {
    val hs = nums[Any](v).collect { case h: Long => h }
    Seq.tabulate(k) { i =>
      (hs.map(h => (MinHashConsts.a(i) * h + MinHashConsts.b(i)) % MinHashConsts.M) :+
        MinHashConsts.M).min
    }
  }

  private def simhashModel(bits: Int): Any => Any = v => {
    val hs = nums[Any](v).collect { case h: Long => h }
    (0 until bits).filter(i => 2 * hs.count(h => ((h >>> i) & 1L) == 1L) > hs.size)
      .map(1L << _).sum
  }

  // ---- text ----

  private def recodeModel(charset: String, errors: String): Any => Any = v => {
    val s = v.asInstanceOf[String]
    if (s.exists(_ > 0xFF)) null
    else {
      val action =
        if (errors == "replace") java.nio.charset.CodingErrorAction.REPLACE
        else java.nio.charset.CodingErrorAction.REPORT
      val dec = java.nio.charset.Charset.forName(charset).newDecoder()
        .onMalformedInput(action).onUnmappableCharacter(action)
      try dec.decode(java.nio.ByteBuffer.wrap(s.map(_.toByte).toArray)).toString
      catch { case _: java.nio.charset.CharacterCodingException => null }
    }
  }

  private def octalModel(escapeBackslash: Boolean): Any => Any = v => {
    def esc(b: Int): String = f"\\${(b >> 6) & 7}${(b >> 3) & 7}${b & 7}"
    v.asInstanceOf[String].codePoints().toArray.map {
      case '\\' if escapeBackslash => esc('\\')
      case cp if cp <= 127           => new String(Character.toChars(cp))
      case cp if cp <= 0xFF          => esc(cp)
      case cp => new String(Character.toChars(cp)).getBytes(UTF_8)
        .map(b => esc(b & 0xFF)).mkString
    }.mkString
  }

  private def entropyModel(symbols: Seq[Any]): Row = {
    val n = symbols.size.toLong
    Row(n, if (n == 0) 0L else symbols.groupBy(identity).values.map { g =>
      g.size * (Log2Fp.compute(n) - Log2Fp.compute(g.size.toLong))
    }.sum)
  }

  private val bytePreserving: Seq[Any] = Seq(null, "", "abc", "\u00C3\u00A9",
    "\u00E2\u0098\u0083", "\u00FF", "caf\u00C3", "\u4E2D", "a\\b", "\u00E9t\u00E9")

  private val bignums: Seq[Any] = Seq(null, "0", "-0", "+0", "007", "-0042", "+12",
    " 42 ", "", "-", "+", "1.5", "1e3", "12a", "\u0661", "9" * 303, "1" + "0" * 303,
    "-" + "9" * 304, "9" * 305, BigInt(2).pow(1007).toString,
    (BigInt(2).pow(1007) - 1).toString)

  private def bignumModel(v: Any): Any = {
    val t = v.asInstanceOf[String].trim
    if (!t.matches("[+-]?[0-9]+")) null
    else {
      val b = BigInt(t)
      if (b.abs > BigInt(2).pow(1007) - 1) null else b.toString
    }
  }

  /** RIFF/WAVE blobs with the 1-based offset of their `data` payload
    * (null when there is none): `data` after `fmt `, after an odd-sized
    * (padded) LIST chunk, missing, a non-WAVE RIFF, and a short blob.
    */
  private val riffBlobs: Seq[(Array[Byte], Any)] = {
    def le32(n: Int): Array[Byte] = Array.tabulate(4)(i => ((n >> (8 * i)) & 0xff).toByte)
    def chunk(tag: String, payload: Int): Array[Byte] =
      tag.getBytes(UTF_8) ++ le32(payload) ++ Array.fill(payload + (payload & 1))(7.toByte)
    def riff(form: String, chunks: Array[Byte]*): Array[Byte] = {
      val body = form.getBytes(UTF_8) ++ chunks.flatten
      "RIFF".getBytes(UTF_8) ++ le32(body.length) ++ body
    }
    Seq(
      riff("WAVE", chunk("fmt ", 16), chunk("data", 4)) -> (12 + 24 + 9L),
      riff("WAVE", chunk("LIST", 3), chunk("fmt ", 16), chunk("data", 2)) ->
        (12 + 12 + 24 + 9L),
      riff("WAVE", chunk("fmt ", 16)) -> null,
      riff("AVI ", chunk("data", 4)) -> null,
      "RIFF".getBytes(UTF_8) -> null)
  }

  // ---- dataset_type parse kernels ----

  /** The Column compositions the parse kernels replaced, kept here as
    * their models, exactly as they were.
    */
  private object Composed {
    def strBool(c: Column): Column =
      when(c.isNull, lit(null).cast("boolean"))
        .otherwise(!lower(c).isin("false", "0", "f", "no", "off", "nil", "null", ""))

    def floatParse(c: Column): Column = {
      val t = lower(trim(c))
      when(t.isin("inf", "+inf", "infinity", "+infinity"), lit(Double.PositiveInfinity))
        .when(t.isin("-inf", "-infinity"), lit(Double.NegativeInfinity))
        .when(t.isin("nan", "+nan", "-nan"), lit(Double.NaN))
        .otherwise(c.try_cast("double"))
    }

    def floatParseComma(c: Column): Column =
      when(c.contains("."), lit(null).cast("double"))
        .otherwise(floatParse(translate(c, ",", ".")))

    def intBase(c: Column, base: Int): Column = {
      def viaConv(src: Column, b: Int): Column = {
        val valid = if (b == 16) "^[-+]?[0-9a-fA-F]+$" else "^[-+]?[0-7]+$"
        when(trim(src).rlike(valid),
          when(trim(src).startsWith("-"),
            -conv(regexp_replace(trim(src), "^[-+]", ""), b, 10).try_cast("long"))
          .otherwise(conv(regexp_replace(trim(src), "^[+]", ""), b, 10).try_cast("long"))
        ).try_cast("long")
      }
      base match {
        case 10 => trim(c).try_cast("long")
        case 16 => viaConv(regexp_replace(trim(c), "(?i)^([-+]?)0x", "$1"), 16)
        case 8  => viaConv(regexp_replace(trim(c), "(?i)^([-+]?)0o", "$1"), 8)
        case 0 =>
          when(trim(c).rlike("(?i)^[-+]?0x"),
               viaConv(regexp_replace(trim(c), "(?i)^([-+]?)0x", "$1"), 16))
            .when(trim(c).rlike("(?i)^[-+]?0o"),
               viaConv(regexp_replace(trim(c), "(?i)^([-+]?)0o", "$1"), 8))
            .otherwise(trim(c).try_cast("long"))
      }
    }

    def intI(c: Column): Column = {
      val m = regexp_extract(c, "[-+]?\\d+", 0)
      when(m === "", lit(null).cast("long")).otherwise(m.try_cast("long"))
    }
  }

  /** A composition as a model: evaluated interpreted on the driver, one
    * value at a time, in a session whose time zone is `zone`. A value it
    * overflows on (conv() past 64 bits, a timestamp past its range) is
    * null, which is what the kernel answers.
    */
  private def composed(f: Column => Column, zone: String = "UTC"): Any => Any = {
    lazy val e = {
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", zone)
      val df = s.createDataFrame(s.sparkContext.parallelize(Seq(Row("x")), 1),
        StructType(Seq(StructField("v", StringType))))
      val p = df.select(f(col("v"))).queryExecution.optimizedPlan.asInstanceOf[Project]
      BindReferences.bindReference(p.projectList.head, p.child.output)
    }
    v => try toScala(e.eval(InternalRow(UTF8String.fromString(v.asInstanceOf[String]))),
        e.dataType)
      catch { case _: ArithmeticException => null }
  }

  import DatasetTypeFuzzSpec.{sample, int64iCases, float64iCases, paddedFloatCases,
    commaDecimals, int64Cases, int64OutOfRange, int32Cases, int64AutoCases,
    strboolInputs, epochSeconds}

  /** Hand-picked edges: padding of every kind, signs, overflow at ±2^63
    * and 2^31, leading zeros, prefixes, non-ASCII digits, empty values.
    */
  private val numberEdges: Seq[String] = Seq("", " ", "\t", "0", "-0", "+0", "007",
    "-007", "42", " 42 ", "\t42\t", "42\n", "\u007f42", "42\u0000", "42\u000b",
    "\u00a042", "+42", "-42", "--42", "+-42", "4 2", "+", "-", "1.5", "1.", ".5", "1e3",
    "9223372036854775807", "9223372036854775808", "-9223372036854775808",
    "-9223372036854775809", "2147483647", "2147483648", "-2147483648",
    "-2147483649", "99999999999999999999", "\u0661\u0662", "\uff14\uff12",
    "x1", "1x", "0x10", "0X1f", "-0x10", "+0x10", "0x+5", "0x-5", "0x 5", " 0x 5 ",
    "-0x 5", "0x", "0x0x1", "ff", "FF", "-ff", "+ff", "ff\n", "ff\r\n", "ff\r",
    "ff\u0085", "ff\u2028", "ff\n\n", "ff ", "\tff", "- ff", "7fffffffffffffff",
    "8000000000000000", "-8000000000000000", "-7fffffffffffffff",
    "ffffffffffffffff", "1ffffffffffffffff", "0000000000000000ff", "0o17",
    "0O17", "-0o17", "0o-17", "0o 17", "0o8", "17", "89", "777777777777777777777",
    "1000000000000000000000", "2000000000000000000000", "0o", "0b1",
    "id=123;end", "99 bottles", "junk-12tail", "+-5", "a+5b", "1e3x")

  private val floatEdges: Seq[String] = Seq("", " ", "1", "1.5", " 1.5 ",
    "\t1.5\t", "1.5\n", "\u000b1", "1\u0000", "1\u007f", "1e3", "1E-3", "1.",
    ".5", ".", "-.5", "+1", "--1", "+.5e-3", "1d", "1f", "1D", "1F", "1.f", "1e5d",
    "0x1p3", "0X1P-2", "-0x1.8p1", "0x1", "inf", "INF", "+inf", "-inf",
    "infinity", "-Infinity", "+Infinity", "nan", "NaN", "-nan", "+nan", "+NaN",
    "-NaN", " -nan ", "\t-nan", "\t+NaN", " inf ", "\tinf", "infin", "NaN1",
    "Infinityx", "in f", "1,5", "3,14", "1,000,5", ",5", "5,", ",", "1,5e3",
    " 1,5 ", "1,5d", "3.14", "1e", "e3", "1e+", "1.5.5", "\u0661", "\uff11.5",
    "1e400", "-1e400", "1e-400", "4.9e-324", "2.2250738585072011e-308",
    "123456789012345678901234567890", "0.1", "3.14159265358979323846",
    "9007199254740993", "9007199254740992", "1_000", "-0", "-0.0",
    "1e0000000000000000001", "1e99999999999999999999",
    "00000000000000000000000000001.5", "1.7976931348623157e308",
    "1.7976931348623159e308", "12345.67", "0.000001", "1e22", "1e23", "-1e-22",
    "123456789012345678", "1234567890123456789", "0.30000000000000004")

  /** Leap days, Feb 30, 24:00:00, signed and long years, padding, zone
    * gaps and overlaps, the edges of the timestamp range.
    */
  private val dateEdges: Seq[String] = Seq("", "2020-01-01", "2020-1-1",
    "2020-01-1", "20-01-01", "02020-01-01", "12345-01-01", "+12345-01-01",
    "-2020-01-01", "+2020-01-01", "0000-01-01", "-0000-01-01", "+00000-01-01",
    "-00001-01-01", "0001-01-01", "1582-10-10", "1900-02-29", "2000-02-29",
    "2020-02-29", "2019-02-29", "2020-02-30", "2020-04-31", "2020-13-01",
    "2020-00-01", "2020-01-00", "2020-01-32", " 2020-01-01", "2020-01-01 ",
    "2020-01-01\n", "2020/01/01", "2020-01-01T00:00", "\u0662020-01-01",
    "2020-\uff101-01", "9999-12-31", "10000-01-01", "+10000-01-01",
    "+294247-01-01", "+300000-01-01", "-290308-01-01", "+0002020-01-01",
    "2020-01-01x", "+9999999999-01-01", "2011-12-30", "1970-01-01")

  private val datetimeEdges: Seq[String] = dateEdges ++ Seq("2020-01-01 00:00:00",
    "2020-01-01 23:59:59", "2020-01-01 24:00:00", "2020-01-01 23:60:00",
    "2020-01-01 23:59:60", "2020-01-01T00:00:00", "2020-01-01  00:00:00",
    "2020-01-01 0:00:00", "2020-01-01 00:00:00.5", "2020-01-01 00:00",
    "2020-02-29 12:00:00", "2019-02-29 12:00:00", "2020-02-30 12:00:00",
    " 2020-01-01 00:00:00", "2020-01-01 00:00:00 ", "+12345-01-01 00:00:00",
    "-0001-01-01 00:00:00", "0001-01-01 00:00:00", "1582-10-10 00:00:00",
    "1900-01-01 00:00:00", "2021-03-14 02:30:00", "2021-11-07 01:30:00",
    "2021-03-28 01:30:00", "+294247-01-10 04:00:54", "+294247-01-10 04:00:55",
    "-290308-12-21 19:59:06", "-290308-12-21 19:59:05", "2020-01-01 12:00:00Z",
    "2020-01-01 12:00:00+01:00", "2020-01-01 1a:00:00", "2020-01-01 12-00-00",
    "2020-12-31 23:59:59")

  private val epochEdges: Seq[String] = Seq("", "0", "86400", "-86400", " 5 ",
    "\t5\n", "1.5", "1e3", "x", "+7", "-1", "9223372036854", "9223372036855",
    "-9223372036854", "-9223372036855", "9223372036854775", "9223372036854776",
    "9223372036854775807", "9223372036854775808", "\u0661")

  private val fuzz: Seq[String] = Seq(int64iCases.map(_._1), float64iCases.map(_._1),
    paddedFloatCases.map(_._1), int64Cases.map(_._1), int64OutOfRange,
    int32Cases.map(_._1), int64AutoCases.map(_._1), strboolInputs)
    .zipWithIndex.flatMap { case (g, i) => sample(g, 25, 300L + i) }

  private val commaFuzz: Seq[String] = sample(commaDecimals, 40, 320L)
    .flatMap { d => val t = d.bigDecimal.toPlainString; Seq(t, t.replace('.', ',')) }

  private val dateFuzz: Seq[String] = sample(epochSeconds, 40, 330L).flatMap { e =>
    val t = java.time.LocalDateTime.ofEpochSecond(e, 0, java.time.ZoneOffset.UTC)
    Seq(e.toString, t.toLocalDate.toString,
      f"${t.toLocalDate} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d")
  }

  private val laws: Seq[Law] = Seq(
    law(() => ShingleHashes(1), "graft_shingle_hash40", tokenArrays, shingles(1)),
    law(() => ShingleHashes(3), "graft_shingle_hash40", tokenArrays, shingles(3)),
    law(() => PositionedShingleHashes(2), "graft_positioned_shingle_hash60",
      tokenArrays, positioned(2)),
    law(() => TokenHashes(40), "graft_token_hash40", tokenArrays, tokenHashes(40)),
    law(() => TokenHashes(60), "graft_token_hash60", tokenArrays, tokenHashes(60)),
    law(() => SubwordEncode(bpe), "graft_bpe_encode", tokenArrays, encodeModel(bpe)),
    law(() => SubwordEncode(uni), "graft_unigram_encode", tokenArrays,
      encodeModel(uni)),
    law(() => SubwordEncode(wp), "graft_wordpiece_encode", tokenArrays,
      encodeModel(wp)),
    law(() => DecodePieces(false), "graft_piece_decode", nestedArrays,
      v => decodeModel(v.asInstanceOf[Seq[Seq[String]]], wordPiece = false)),
    law(() => DecodePieces(true), "graft_piece_decode", nestedArrays,
      v => decodeModel(v.asInstanceOf[Seq[Seq[String]]], wordPiece = true)),
    law(() => WordSymbols, "graft_wordpiece_symbols", null +: hostile,
      v => v.asInstanceOf[String].codePoints().toArray.toSeq.zipWithIndex
        .map { case (cp, i) =>
          (if (i == 0) "" else "##") + new String(Character.toChars(cp)) }),
    Law(() => DotProduct, "graft_dot", doublePairs,
      pairFold(0.0)((acc, a, b) => acc + a.asInstanceOf[Double] * b.asInstanceOf[Double])),
    law(() => SignBuckets(2, 3, signDim, signWeights), "graft_sign_buckets",
      doubleVectors, signModel),
    law(() => QuantizeLong(3)(), "graft_quantize", doubleVectors, quantizeModel(3)),
    law(() => QuantizeLong(2)(), "graft_quantize",
      Seq(null, Seq(), Seq(1.5f, null, -2.25f, 0.1f), Seq(Float.MaxValue / 8, -3.0e-5f)),
      quantizeModel(2), types = Seq(ArrayType(FloatType))),
    Law(() => SqDistLong, "graft_sqdist", longPairs, pairFold(0L) { (acc, a, b) =>
      val d = a.asInstanceOf[Long] - b.asInstanceOf[Long]; acc + d * d }),
    Law(() => KMeansAssignGrouped(2, 4L, centroids, offsets),
      "graft_kmeans_assign_grouped", groupedInputs, { case Seq(v, p: Long) =>
        if (p < 0 || p >= 3) null
        else assignModel(v, 4L, offsets(p.toInt), offsets(p.toInt + 1))
      }),
    Law(() => DotLong, "graft_dot_long", longPairs,
      pairFold(0L)((acc, a, b) => acc + a.asInstanceOf[Long] * b.asInstanceOf[Long])),
    law(() => QuantizeInt8, "graft_quantize_int8", doubleVectors, int8Model),
    law(() => KMeansAssign(2, 4L, centroids), "graft_kmeans_assign", longVectors,
      v => assignModel(v, 4L, 0, 4)),
    Law(() => PqAdc(2), "graft_pq_adc", Seq(
      Seq(Seq(0L, 1L), Seq(10L, 20L, 30L, 40L)), Seq(Seq(0L, 2L), Seq(10L, 20L, 30L, 40L)),
      Seq(Seq(-1L, 0L), Seq(10L, 20L, 30L, 40L)), Seq(Seq(0L), Seq(10L, 20L, 30L, 40L)),
      Seq(Seq(0L, 1L), Seq(10L, null, 30L, 40L)), Seq(Seq(1L, 1L), Seq(10L, null, 30L, 40L)),
      Seq(Seq(null, 1L), Seq(10L, 20L, 30L, 40L)), Seq(Seq(), Seq()),
      Seq(null, Seq(1L))), pqModel(2)),
    law(() => MinHashSig(4), "graft_minhash_sig", hashArrays, minhashModel(4)),
    law(() => SimHash(8), "graft_simhash", hashArrays, simhashModel(8)),
    law(() => SimHash(40), "graft_simhash", hashArrays, simhashModel(40)),
    law(() => UnicodeNormalize("NFC"), "graft_unicode_normalize", null +: hostile,
      v => java.text.Normalizer.normalize(v.asInstanceOf[String],
        java.text.Normalizer.Form.NFC)),
    law(() => UnicodeNormalize("NFKD"), "graft_unicode_normalize", null +: hostile,
      v => java.text.Normalizer.normalize(v.asInstanceOf[String],
        java.text.Normalizer.Form.NFKD)),
    law(() => RecodeCharset("UTF-8", "strict"), "graft_recode", bytePreserving,
      recodeModel("UTF-8", "strict")),
    law(() => RecodeCharset("UTF-8", "replace"), "graft_recode", bytePreserving,
      recodeModel("UTF-8", "replace")),
    law(() => AsciiOctal(false), "graft_ascii_octal",
      bytePreserving ++ hostile.filter(_.nonEmpty), octalModel(false)),
    law(() => AsciiOctal(true), "graft_ascii_octal",
      bytePreserving ++ hostile.filter(_.nonEmpty), octalModel(true)),
    law(() => Utf8EntropyFp, "graft_char_entropy_fp", null +: hostile,
      v => entropyModel(v.asInstanceOf[String].codePoints().toArray.toSeq)),
    law(() => StringArrayEntropyFp, "graft_token_entropy_fp", tokenArrays,
      onTokens(ts => entropyModel(ts.filter(_ != null)))),
    law(() => Log2Fp, "graft_log2fp",
      Seq(null, 1L, 2L, 3L, 10L, 1024L, (1L << 31) - 1, Long.MaxValue, 0L, -5L,
        Long.MinValue),
      { case x: Long => if (x <= 0) null else Log2Fp.compute(x) }),
    law(() => BigNumCanon, "graft_bignum_canon", bignums, bignumModel),
    law(() => RiffChunkOffset("data"), "graft_riff_chunk_offset",
      null +: riffBlobs.map(_._1),
      v => riffBlobs.find(_._1 eq v.asInstanceOf[AnyRef]).get._2)) ++
    Seq(10, 16, 8, 0).map(b => law(() => ParseLong(b), "graft_parse_long",
      null +: (numberEdges ++ fuzz), composed(Composed.intBase(_, b)))) ++ Seq(
    law(() => FirstLong, "graft_first_long", null +: (numberEdges ++ fuzz),
      composed(Composed.intI)),
    law(() => ParseDouble(false), "graft_parse_double",
      null +: (floatEdges ++ numberEdges ++ fuzz ++ commaFuzz),
      composed(Composed.floatParse)),
    law(() => ParseDouble(true), "graft_parse_double",
      null +: (floatEdges ++ numberEdges ++ commaFuzz),
      composed(Composed.floatParseComma)),
    law(() => StrBool, "graft_strbool", null +: (numberEdges ++ floatEdges ++ fuzz ++
      Seq("FALSE", "fAlSe", "F", "NO", "Off", "NIL", "NULL", "false ", " false",
        "n", "nul", "nulll", "\u0130", "\u212a", "\uff26ALSE", "n\u0130l")),
      composed(Composed.strBool)),
    law(() => ParseTimestamp(time = false, "UTC"), "graft_parse_timestamp",
      null +: (datetimeEdges ++ dateFuzz),
      composed(try_to_timestamp(_, lit("yyyy-MM-dd")))),
    law(() => ParseTimestamp(time = true, "UTC"), "graft_parse_timestamp",
      null +: (datetimeEdges ++ dateFuzz),
      composed(try_to_timestamp(_, lit("yyyy-MM-dd HH:mm:ss")))),
    law(() => ParseTimestamp(time = true, "America/New_York"), "graft_parse_timestamp",
      null +: (datetimeEdges ++ dateFuzz),
      composed(try_to_timestamp(_, lit("yyyy-MM-dd HH:mm:ss")), "America/New_York")),
    law(() => ParseTimestamp(time = false, "Pacific/Apia"), "graft_parse_timestamp",
      null +: (datetimeEdges ++ dateFuzz),
      composed(try_to_timestamp(_, lit("yyyy-MM-dd")), "Pacific/Apia")),
    law(() => EpochTimestamp(1000000L), "graft_epoch_timestamp",
      null +: (epochEdges ++ numberEdges ++ dateFuzz),
      composed(c => timestamp_seconds(c.try_cast("long")))),
    law(() => EpochTimestamp(1000L), "graft_epoch_timestamp",
      null +: (epochEdges ++ numberEdges ++ dateFuzz),
      composed(c => timestamp_millis(c.try_cast("long")))))

  /** Scala collections of any flavour as Lists, rows field by field, for
    * comparison.
    */
  private def norm(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case r: Row                     => Row.fromSeq(r.toSeq.map(norm))
    // NaN equals nothing and -0.0 equals 0.0 numerically: compare as text
    case d: Double if d.isNaN || 1 / d < 0 && d == 0 => d.toString
    case other                      => other
  }

  /** A Catalyst value as Scala; a timestamp as an Instant, which (unlike
    * java.sql.Timestamp) holds every instant the type does.
    */
  private def toScala(v: Any, t: DataType): Any = (v, t) match {
    case (micros: Long, TimestampType) => DateTimeUtils.microsToInstant(micros)
    case _ => CatalystTypeConverters.convertToScala(v, t)
  }

  private def label(l: Law): String = s"${l.make()}"

  /** The child types of a law, arrays with nullable elements so inputs
    * can carry null elements.
    */
  private def childTypes(l: Law): Seq[DataType] = {
    def nullableElements(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(nullableElements(e), containsNull = true)
      case other           => other
    }
    (if (l.types.nonEmpty) l.types else l.make().inputTypes).map(nullableElements)
  }

  private def refs(types: Seq[DataType]): Seq[BoundReference] =
    types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }

  test("interpreted eval, generated code and the plain-Scala model agree") {
    // a separate session: codegen failures must throw here, not fall
    // back to interpretation silently, without changing the shared one
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    // timestamps collect as Instants, which reach the ends of the range
    s.conf.set("spark.sql.datetime.java8API.enabled", "true")
    laws.foreach { l =>
      val k = l.make()
      val types = childTypes(l)
      val expected = l.inputs.map(args =>
        if (args.contains(null)) null else norm(l.model(args)))

      val interpreted = l.inputs.map { args =>
        val out = KernelCall(refs(types), k).eval(
          InternalRow.fromSeq(args.map(CatalystTypeConverters.convertToCatalyst)))
        norm(toScala(out, k.dataType))
      }
      // the inputs whose results differ, not two long lists
      def differences(got: Seq[Any]): String = l.inputs.lazyZip(got).lazyZip(expected)
        .collect { case (in, g, w) if g != w => s"$in: got $g, want $w" }.mkString("; ")
      assert(interpreted == expected, s"${label(l)}: interpreted eval: ${differences(interpreted)}")

      // an RDD source, so the optimizer cannot fold the projection into a
      // local relation and evaluate it before execution
      val df = s.createDataFrame(
        s.sparkContext.parallelize(l.inputs.map(Row.fromSeq), 1),
        StructType(types.zipWithIndex.map { case (t, i) =>
          StructField(s"c$i", t, nullable = true) }))
      val call = KernelCall(types.indices.map(i => GraftBridge.expression(col(s"c$i"))), k)
      val out = df.select(GraftBridge.column(call))
      val plan = out.queryExecution.executedPlan
      assert(plan.isInstanceOf[WholeStageCodegenExec] &&
        plan.toString.contains(l.prettyName),
        s"${label(l)}: the kernel runs inside whole-stage codegen\n$plan")
      // one direct call through the reference object, cast to the
      // kernel's own class; a primitive result boxes only when it may be
      // null
      val code = plan.asInstanceOf[WholeStageCodegenExec].doCodeGen()._2.body
      assert(code.contains(s"((${k.getClass.getName}) references[") &&
        code.contains("/* kernel */).apply("), s"${label(l)}: kernel call\n$code")
      assert(code.contains("boxed") ==
        (k.nullable && CodeGenerator.isPrimitiveType(k.dataType)),
        s"${label(l)}: boxing\n$code")
      val generated = out.collect().map(r => norm(r.get(0))).toSeq
      assert(generated == expected, s"${label(l)}: generated code: ${differences(generated)}")
    }
  }

  test("SQL names, equality by parameters, models by reference") {
    laws.foreach { l =>
      val (k1, k2) = (l.make(), l.make())
      val cs = refs(k1.inputTypes)
      assert(KernelCall(cs, k1).prettyName == l.prettyName)
      assert(KernelCall(cs, k1).semanticEquals(KernelCall(cs, k2)), label(l))
      assert(KernelCall(cs, k1).canonicalized == KernelCall(cs, k2).canonicalized)
    }
    def differ(k1: Kernel, k2: Kernel): Unit = {
      val cs = refs(k1.inputTypes)
      assert(!KernelCall(cs, k1).semanticEquals(KernelCall(cs, k2)), s"$k1 vs $k2")
    }
    differ(ShingleHashes(3), ShingleHashes(4))
    differ(TokenHashes(40), TokenHashes(60))
    differ(PositionedShingleHashes(2), PositionedShingleHashes(3))
    differ(DecodePieces(false), DecodePieces(true))
    differ(SubwordEncode(bpe), SubwordEncode(new BpeModel(bpe.merges)))
    differ(SubwordEncode(wp), SubwordEncode(new WordPieceModel(wp.vocab)))
    differ(QuantizeLong(2)(), QuantizeLong(3)())
    differ(KMeansAssign(2, 4L, centroids), KMeansAssign(2, 4L, centroids.clone()))
    differ(KMeansAssign(2, 4L, centroids), KMeansAssign(2, 8L, centroids))
    differ(KMeansAssignGrouped(2, 4L, centroids, offsets),
      KMeansAssignGrouped(2, 4L, centroids, offsets.clone()))
    differ(PqAdc(2), PqAdc(3))
    differ(MinHashSig(4), MinHashSig(5))
    differ(SimHash(8), SimHash(40))
    differ(UnicodeNormalize("NFC"), UnicodeNormalize("NFD"))
    differ(RecodeCharset("UTF-8", "strict"), RecodeCharset("UTF-8", "replace"))
    differ(AsciiOctal(false), AsciiOctal(true))
    differ(RiffChunkOffset("data"), RiffChunkOffset("fmt "))
    differ(ParseLong(10), ParseLong(16))
    differ(ParseDouble(false), ParseDouble(true))
    differ(ParseTimestamp(time = true, "UTC"), ParseTimestamp(time = false, "UTC"))
    differ(ParseTimestamp(time = true, "UTC"), ParseTimestamp(time = true, "Asia/Kolkata"))
    differ(EpochTimestamp(1000L), EpochTimestamp(1000000L))
    // the element reader a kernel picks for its child type is not a
    // parameter: the bound kernel equals the one that was built
    assert(QuantizeLong(2)().on(Seq(ArrayType(FloatType))) == Some(QuantizeLong(2)()))
  }

  test("a child of the wrong type fails analysis") {
    laws.foreach { l =>
      val k = l.make()
      val arity = k.inputTypes.size
      assert(KernelCall(Seq.fill(arity)(Literal(1)), k).checkInputDataTypes()
        .isFailure, label(l))
      assert(KernelCall(Seq.fill(arity + 1)(Literal(1)), k).checkInputDataTypes()
        .isFailure, s"${label(l)}: one child too many")
      assert(intercept[org.apache.spark.sql.AnalysisException] {
        spark.range(1).select(GraftBridge.column(KernelCall(
          Seq.fill(arity)(GraftBridge.expression(col("id").cast("int"))), k))).collect()
      }.getMessage.contains(l.prettyName), label(l))
    }
    val nested = KernelCall(Literal.create(null, ArrayType(StringType)),
      DecodePieces(false)).checkInputDataTypes()
    assert(nested.isFailure)
    val badParent = KernelCall(Seq(Literal.create(Seq(1L, 2L), ArrayType(LongType)),
      Literal(1)), KMeansAssignGrouped(2, 4L, centroids, offsets)).checkInputDataTypes()
    assert(badParent.isFailure, "an int parent id is not a bigint")
    val floats = KernelCall(Literal.create(Seq(1.0f), ArrayType(FloatType)),
      QuantizeInt8).checkInputDataTypes()
    assert(floats.isFailure, "only graft_quantize reads float arrays")
  }
}
