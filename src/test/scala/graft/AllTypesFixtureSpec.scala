package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.SnapshotStore
import graft.ops.{DatasetChecksum, DatasetSort, DatasetType}
import TestSpark.{spark, tmpDir}

/** Canonical all-types fixture mirroring the reference's
  * test_methods/test_data.py:41-59 — one column per supported type with
  * extreme values (int64 bounds, 2^64-1 bits64, leap-day 1916 datetimes,
  * ±inf/NaN floats, µs-precision times, unicode) plus an all-null row,
  * exercised through the core dataset lifecycle: snapshot write/read,
  * zone maps, checksum, and sort.
  */
class AllTypesFixtureSpec extends AnyFunSuite {
  import AllTypesFixtureSpec._

  test("snapshot round-trip preserves every value, zone maps skip NaN/null") {
    val store = new SnapshotStore(spark, tmpDir("alltypes"))
    val snap = store.write(fixture(), "at_all", slices = 2)
    assert(snap.meta.lines == 4)
    val back = store.readResolved("at_all")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    // value-exact round trip (checksum compares the multisets)
    assert(DatasetChecksum.value(fixture()) == DatasetChecksum.value(back))
    // zone maps: int64 min/max exclude the null row; float64 max is the
    // largest non-NaN value (NaN must not poison the zone map)
    assert(snap.minOf("int64").contains("-9223372036854775807"))
    assert(snap.maxOf("int64").contains("9223372036854775807"))
    assert(snap.maxOf("float64").contains("1.0E100"))
    // leap-day 1916 datetime survives at microsecond precision
    val tv = back.select(col("datetime")).where(col("int32") === -2147483647)
      .collect().head.getTimestamp(0)
    assert(tv == ts("1916-02-29 23:59:59.999999"))
  }

  test("sort over the fixture: NaN largest, nulls per type family") {
    val sorted = DatasetSort(fixture(),
      Seq(DatasetSort.SortCol("float64")), acrossSlices = true)
      .select("float64").collect().map(r =>
        if (r.isNullAt(0)) "null" else r.getDouble(0).toString).toSeq
    // numeric: NaN last (the fixture's 4th row has NaN, not null, here)
    assert(sorted.head == "-9.0" && sorted.last == "NaN")
    val byTs = DatasetSort(fixture(),
      Seq(DatasetSort.SortCol("datetime")), acrossSlices = true)
      .select("datetime").collect().map(_.isNullAt(0)).toSeq
    assert(byTs.last, "datetime nulls sort last")
  }

  test("stringify -> dataset_type recovers the typed columns") {
    val strs = fixture().na.drop(Seq("int64")).select(
      col("int64").cast("string").as("i64"),
      col("float32").cast("string").as("f32"),
      col("bits64").cast("string").as("b64"),
      col("bool").cast("string").as("flag"),
      date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("dtm"),
      col("date").cast("string").as("d"))
    val typed = DatasetType(strs, Map(
      "i64" -> "int64", "f32" -> "float32", "b64" -> "bits64",
      "flag" -> "strbool", "dtm" -> "datetime:%Y-%m-%d %H:%M:%S.%f",
      "d" -> "date")).good
    val round = typed.collect().map(_.toSeq).toSet
    val want = fixture().na.drop(Seq("int64"))
      .select(col("int64"), col("float32"), col("bits64"), col("bool"),
        col("datetime"), col("date")).collect().map(_.toSeq).toSet
    assert(round == want)
  }
}

/** The fixture itself, shared with SnapshotSpec's zone-map cases. */
object AllTypesFixtureSpec {
  def ts(s: String) = java.sql.Timestamp.valueOf(s)
  def dt(s: String) = java.sql.Date.valueOf(s)

  val schema = StructType(Seq(
    StructField("float64", DoubleType),
    StructField("float32", FloatType),
    StructField("int64", LongType),
    StructField("int32", IntegerType),
    StructField("bits64", DecimalType(20, 0)),
    StructField("bits32", LongType),
    StructField("bool", BooleanType),
    StructField("datetime", TimestampType),
    StructField("date", DateType),
    StructField("time_us", LongType),      // time-of-day: micros since midnight
    StructField("bytes", BinaryType),
    StructField("unicode", StringType),
    StructField("ascii", StringType),
    StructField("json", StringType),
    StructField("cplx", StructType(Seq(
      StructField("re", DoubleType), StructField("im", DoubleType)))),
  ))

  val rows = Seq(
    Row(1.0 / 3, 100.0f, 9223372036854775807L, -2147483647,
      BigDecimal("18446744073709551615").bigDecimal, 4294967295L, true,
      ts("1916-02-29 23:59:59.999999"), dt("2016-02-29"),
      (12L * 3600) * 1000000L + 999999L, "foo".getBytes("UTF-8"),
      "blå", "foo", """{"a":[1,2,{"b":{}}]}""", Row(1.5, 0.0)),
    Row(1e100, -0.0f, -9223372036854775807L, 2147483647,
      BigDecimal(0).bigDecimal, 0L, false,
      ts("1916-02-29 23:59:59.999998"), dt("2016-02-28"),
      (12L * 3600) * 1000000L + 999998L, "bar".getBytes("UTF-8"),
      "blä", "bar", "null", Row(-1e100, 2e-8)),
    Row(-9.0, 2.0f, 100L, -1,
      BigDecimal("6172840429334713770").bigDecimal, 2857740885L, true,
      ts("1970-01-01 00:00:00.000001"), dt("2017-06-27"),
      62L * 1000000L + 3L, "blutti".getBytes("UTF-8"),
      "bla", "blutti", "\"blä\"", Row(0.0, 5.3)),
    Row(Double.NaN, Float.NaN, null, null, null, null, null,
      null, null, null, null, null, null, null, null),
  )

  def fixture() =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
}
