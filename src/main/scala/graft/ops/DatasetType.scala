package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft.core.Cols.{q => Q}
import graft.expr.ParseFunctions._

/** THE typing operator — converts string columns to typed columns with the
  * reference's conversion-spec vocabulary (standard_methods/a_dataset_type.py
  * + dataset_type.py:730-828): per-column specs like `number`, `int64_16`,
  * `float64`, `strbool`, `date:%Y-%m-%d`, `datetime:%s`, garbage-tolerant
  * `i`-suffixed variants, per-column `defaults` on parse failure, and
  * `filter_bad` which drops a whole row if any column is unparseable
  * (emitting those rows as a `bad` DataFrame).
  *
  * The reference implements filter_bad as a two-pass with a shared mmap
  * bitmap (a_dataset_type.py:287-304); here it is a single-pass row-validity
  * predicate — same observable behavior (good rows + bad rows + counts), one
  * scan, fully codegen'd. At 100 TB this is one projection over the scan
  * with no extra materialization.
  */
final case class TypedResult(good: DataFrame, bad: DataFrame,
    opts: TypeOptions = TypeOptions()) {
  /** Per-column unparseable counts over the bad rows (reference records
    * per-column bad counts in its result). Re-parses with the SAME
    * options the typing ran with — numericComma/timezone change what
    * counts as unparseable.
    */
  def badCounts(types: Map[String, String]): Map[String, Long] = {
    if (bad.isEmpty) types.keys.map(_ -> 0L).toMap
    else {
      val zone = DatasetType.sessionZone(bad)
      val aggs = types.keys.toSeq.map { c =>
        sum(when(DatasetType.parse(Q(c), types(c), opts, zone).isNull && Q(c).isNotNull, 1L)
          .otherwise(0L)).as(c)
      }
      val row = bad.agg(aggs.head, aggs.tail: _*).collect()(0)
      types.keys.toSeq.zipWithIndex.map { case (c, i) =>
        c -> (if (row.isNullAt(i)) 0L else row.getLong(i))
      }.toMap
    }
  }
}

/** Global conversion options (reference a_dataset_type.py options):
  * `numericComma` — ',' is the decimal separator for float family specs
  * (a_dataset_type.py:74); `timezone` — datetimes are local times in this
  * zone, stored UTC (a_dataset_type.py:61-67).
  */
final case class TypeOptions(
    numericComma: Boolean = false,
    timezone: Option[String] = None)

object DatasetType {

  /** The session time zone of `df`, which wall-clock date and datetime
    * values are read in: the zone Spark's own timestamp parsing resolves
    * when it analyzes `df`.
    */
  private[ops] def sessionZone(df: DataFrame): String =
    df.sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)

  /** Compile one conversion spec to a Column expression producing NULL on
    * parse failure; wall-clock values are read in time zone `zone`
    * ([[sessionZone]] of the frame being typed).
    */
  def parse(c: Column, spec: String, opts: TypeOptions, zone: String): Column = {
    val (base, fmt) = spec.indexOf(':') match {
      case -1 => (spec, "")
      case i  => (spec.substring(0, i), spec.substring(i + 1))
    }
    def fl(x: Column): Column = floatParse(x, opts.numericComma)
    def tz(ts: Column): Column = opts.timezone match {
      case Some(z) => to_utc_timestamp(ts, z)
      case None    => ts
    }
    base match {
      case "number" if fmt == "int" =>
        // number:int — integral values only (non-integral input is bad)
        floatInt(c, 64, exact = true, saturate = false)
      case "number" if fmt == "big" =>
        // number:big — exact integers up to 38 digits (DECIMAL(38,0)); the
        // closest NATIVE Spark type to the reference's arbitrary-precision
        // int (2^1007); magnitudes beyond 38 digits are bad values, not
        // silently rounded. Integers ONLY: a bare decimal cast would
        // HALF_UP-round "3.5" to 4 — fractional input is a bad value.
        // Past 38 digits, use number:bignum below.
        when(trim(c).rlike("^[-+]?[0-9]+$"), trim(c).try_cast("decimal(38,0)"))
      case "number" if fmt == "bignum" =>
        // number:bignum — the FULL reference range, ±(2^1007-1)
        // (dataset_type.py:804), as canonical strings (no '+', no leading
        // zeros, "-0" -> "0"). Equality/grouping/dedup are plain string
        // ops on the canonical form; ordering and exact sums via
        // graft.functions.BigNumFunctions.{sortKey, sum}. Beyond the
        // bound, or non-integer text -> bad value, like the reference's
        // parse failure (never a silent float downgrade).
        graft.functions.BigNumFunctions.canon(c)
      case "number"    => fl(c)
      case "numberi"   => numberI(c)
      case "float64"   => fl(c)
      case "float32"   => fl(c).cast("float")
      case "float64i"  => numberI(c)
      case "float32i"  => numberI(c).cast("float")
      case "int64" | "int64_10" => intBase(c, 64, 10)
      case "int32" | "int32_10" => intBase(c, 32, 10)
      case "int64_16"  => intBase(c, 64, 16)
      case "int32_16"  => intBase(c, 32, 16)
      case "int64_8"   => intBase(c, 64, 8)
      case "int32_8"   => intBase(c, 32, 8)
      case "int64_0"   => intBase(c, 64, 0)
      case "int32_0"   => intBase(c, 32, 0)
      case "int64i" | "int64_10i" => intI(c, 64)
      case "int32i" | "int32_10i" => intI(c, 32)
      case "floatint64e" => floatInt(c, 64, exact = true, saturate = false)
      case "floatint32e" => floatInt(c, 32, exact = true, saturate = false)
      case "floatint64s" => floatInt(c, 64, exact = false, saturate = true)
      case "floatint32s" => floatInt(c, 32, exact = false, saturate = true)
      case "bits64" | "bits64_10" => bits(c, 64, 10)
      case "bits32" | "bits32_10" => bits(c, 32, 10)
      case "bits64_16" => bits(c, 64, 16)
      case "bits32_16" => bits(c, 32, 16)
      case "bits64_8"  => bits(c, 64, 8)
      case "bits32_8"  => bits(c, 32, 8)
      case "strbool"   => strBool(c)
      case "floatbool" => floatBool(c)
      case "floatbooli" => floatBoolI(c)
      case "complex64" => parseComplex(c, 64)
      case "complex32" => parseComplex(c, 32)
      case "date"      => parseDate(c, if (fmt.isEmpty) "%Y-%m-%d" else fmt, zone)
      case "datetime"  =>
        // timezone applies to wall-clock formats only: epoch inputs are
        // already absolute instants
        val f = if (fmt.isEmpty) "%Y-%m-%d %H:%M:%S" else fmt
        if (f == "%s" || f == "java") parseDatetime(c, f, zone)
        else tz(parseDatetime(c, f, zone))
      case "javadatetime" => parseDatetime(c, "java", zone)
      case "datei" =>
        val f = if (fmt.isEmpty) "%Y-%m-%d" else fmt
        if (f == "%s") parseDate(intI(c, 64).cast("string"), "%s", zone)
        else parseDate(extractLeading(c, f), f, zone)
      case "datetimei" =>
        val f = if (fmt.isEmpty) "%Y-%m-%d %H:%M:%S" else fmt
        if (f == "%s" || f == "java") parseDatetime(intI(c, 64).cast("string"), f, zone)
        else tz(parseDatetime(extractLeading(c, f), f, zone))
      case "javadatetimei" => parseDatetime(intI(c, 64).cast("string"), "java", zone)
      case "time"      => parseTimeMicros(c)
      case "timei"     => parseTimeMicros(
        regexp_extract(c, "^\\s*(\\d{1,2}:\\d{2}:\\d{2}(\\.\\d{1,6})?)", 1))
      case "bytes"     => c.cast("binary")
      case "bytesstrip" => stripWs(c).cast("binary")
      // ascii[strip][:errors] — errors ∈ replace (DEFAULT, \ooo octal
      // escapes) / encode (replace + backslash → \134) / strict (>127 is a
      // bad value). Reference dataset_type.py:793-800: bare 'ascii' is
      // replace, not strict.
      case "ascii"      => asciiFmt(c, fmt)
      case "asciistrip" => asciiFmt(stripWs(c), fmt)
      // unicode[strip][:<codec>[/errors]] — with a codec, reinterpret the
      // byte-preserving string (CsvImportConfig.encoding="bytes") as raw
      // bytes and decode (dataset_type.py:75-100, 789-792). Strip applies
      // to the BYTES before decoding, as the reference's C template does.
      // Bare unicode = keep as-is (the value is already text).
      case "unicode" =>
        if (fmt.isEmpty) c.cast("string") else unicodeFmt(c, fmt)
      case "unicodestrip" =>
        if (fmt.isEmpty) stripWs(c) else unicodeFmt(stripWs(c), fmt)
      case "json"      => c // stored as string; validation is reader-side
      case other => throw new IllegalArgumentException(s"unknown type spec '$other'")
    }
  }

  private def asciiFmt(c: Column, fmt: String): Column = fmt match {
    case "" | "replace" => asciiReplace(c)
    case "encode"       => asciiEncode(c)
    case "strict"       => asciiStrict(c)
    case other => throw new IllegalArgumentException(
      s"ascii errors must be replace/encode/strict, got '$other'")
  }

  private def unicodeFmt(c: Column, fmt: String): Column = {
    val (codec, errors) = fmt.indexOf('/') match {
      case -1 => (fmt, "strict")
      case i  => (fmt.substring(0, i), fmt.substring(i + 1))
    }
    unicodeRecode(c, codec, errors)
  }

  /** Type `df`'s columns per `types`; untyped columns pass through.
    *
    * @param defaults  per-column replacement when parse fails but input is
    *                  non-null (reference `defaults` option)
    * @param filterBad drop rows where any typed column fails to parse (and
    *                  no default exists); failed rows → `bad` output
    * @param hashlabel when set and typed, the output is re-partitioned on
    *                  the typed column (the reference rehashes because the
    *                  typed value hashes differently than its bytes —
    *                  a_dataset_type.py rehashing/slicemap; ours is one
    *                  hash shuffle)
    */
  def apply(
      df: DataFrame,
      types: Map[String, String],
      defaults: Map[String, String] = Map.empty,
      filterBad: Boolean = false,
      discardUntyped: Boolean = false,
      opts: TypeOptions = TypeOptions(),
      hashlabel: Option[String] = None,
      slices: Int = 0): TypedResult = {
    types.keys.foreach { c =>
      require(df.columns.contains(c), s"dataset_type: no column '$c' in input")
    }
    val zone = sessionZone(df)
    def parse(c: Column, spec: String): Column = DatasetType.parse(c, spec, opts, zone)
    // fail fast on an unparseable default: it would otherwise compile to a
    // constant NULL, silently nulling every parse failure — and with
    // filterBad those rows are ALSO excluded from `bad` (data loss from a
    // config typo). One driver-side 1-row evaluation per defaulted column.
    defaults.foreach { case (name, d) =>
      if (types.contains(name)) {
        val ok = !df.sparkSession.range(1)
          .select(parse(lit(d), types(name)).as("v")).collect()(0).isNullAt(0)
        require(ok,
          s"dataset_type: default '$d' for column '$name' does not parse as ${types(name)}")
      }
    }

    def typedCol(name: String): Column = {
      val parsed = parse(Q(name), types(name))
      defaults.get(name) match {
        case Some(d) =>
          // input null → null; parse failure on non-null input → default
          val dv = parse(lit(d), types(name))
          coalesce(parsed, when(Q(name).isNotNull, dv)).as(name)
        case None => parsed.as(name)
      }
    }

    val outCols: Seq[Column] = df.columns.toSeq.flatMap { name =>
      if (types.contains(name)) Some(typedCol(name))
      else if (discardUntyped) None
      else Some(Q(name))
    }

    def rehash(out: DataFrame): DataFrame = hashlabel match {
      case Some(h) =>
        val n = if (slices > 0) slices
                else out.sparkSession.sparkContext.defaultParallelism
        out.repartition(n, Q(h))
      case None => out
    }

    if (!filterBad) TypedResult(rehash(df.select(outCols: _*)), df.limit(0), opts)
    else {
      // row is bad iff some typed col: input non-null, parse null, no default
      val colBad = types.keys.toSeq.map { name =>
        if (defaults.contains(name)) lit(false)
        else Q(name).isNotNull && parse(Q(name), types(name)).isNull
      }
      val rowBad = colBad.reduce(_ || _)
      TypedResult(rehash(df.filter(!rowBad).select(outCols: _*)), df.filter(rowBad), opts)
    }
  }
}
