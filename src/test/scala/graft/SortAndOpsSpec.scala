package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{DatasetSort, DatasetChecksum, DatasetHashpart, DatasetMerge}
import TestSpark.spark

/** Sort semantics (a_test_sorting.py), checksum invariance
  * (a_dataset_checksum.py) and hashpart/merge contracts.
  */
class SortAndOpsSpec extends AnyFunSuite {

  test("sort: nulls smallest for numerics, largest for timestamps") {
    val s = spark
    import s.implicits._
    val df = Seq[(java.lang.Long, String)]((3L, "c"), (null, "n"), (1L, "a"))
      .toDF("k", "v")
    val got = DatasetSort(df, Seq(DatasetSort.SortCol("k")), acrossSlices = true)
      .collect().map(_.getString(1)).toSeq
    assert(got == Seq("n", "a", "c"), "null sorts first for numeric")

    val ts = Seq(("2020-01-02", "b"), (null, "n"), ("2020-01-01", "a"))
      .toDF("t", "v").withColumn("t", col("t").cast("timestamp"))
    val got2 = DatasetSort(ts, Seq(DatasetSort.SortCol("t")), acrossSlices = true)
      .collect().map(_.getString(1)).toSeq
    assert(got2 == Seq("a", "b", "n"), "null sorts last for datetime family")
  }

  test("sort: NaN sorts largest (reference filter_unsortable placement)") {
    val s = spark
    import s.implicits._
    val df = Seq((1.0, "a"), (Double.NaN, "nan"), (99.0, "z")).toDF("k", "v")
    val got = DatasetSort(df, Seq(DatasetSort.SortCol("k")), acrossSlices = true)
      .collect().map(_.getString(1)).toSeq
    assert(got == Seq("a", "z", "nan"))
  }

  test("sort: stable via explicit tiebreak column") {
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i => (i % 3, i.toLong)).toDF("k", "seq")
      .repartition(7)
    val got = DatasetSort(df, Seq(DatasetSort.SortCol("k")),
      acrossSlices = true, stableTiebreak = Some("seq"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == got.sorted, "equal keys must preserve seq order")
  }

  test("trigger_column: equal trigger values never straddle partitions") {
    val s = spark
    import s.implicits._
    val df = (0 until 1000).map(i => (i % 10, i)).toDF("trig", "v")
      .repartition(8)
    val sorted = DatasetSort(df,
      Seq(DatasetSort.SortCol("trig"), DatasetSort.SortCol("v")),
      triggerColumn = Some("trig"))
    val placement = sorted.select(col("trig"), spark_partition_id().as("pid"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val byTrig = placement.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
    assert(byTrig.values.forall(_ == 1),
      s"each trigger value must live in exactly one partition: $placement")
    // and the rows are globally ordered when read partition-by-partition
    val rows = sorted.select(col("trig"), col("v")).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(rows == rows.sorted)
  }

  test("checksum: invariant to partitioning and order, sensitive to data") {
    val s = spark
    import s.implicits._
    val df = (0 until 500).map(i => (i, s"row$i", i * 1.5)).toDF("a", "b", "c")
    val x = DatasetChecksum.value(df.repartition(11))
    val y = DatasetChecksum.value(df.orderBy(col("c").desc).repartition(2))
    assert(x == y)
    val mutated = (0 until 500).map(i => (i, s"row$i", if (i == 250) 0.0 else i * 1.5))
      .toDF("a", "b", "c")
    assert(x != DatasetChecksum.value(mutated))
  }

  test("checksum chain: sums add across snapshots") {
    val s = spark
    import s.implicits._
    val a = Seq((1, "x")).toDF("k", "v")
    val b = Seq((2, "y")).toDF("k", "v")
    val whole = a.unionByName(b)
    assert(DatasetChecksum.chain(Seq(a, b)) == DatasetChecksum.value(whole))
  }

  /** Spark jobs `body` runs. */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("checksum value and chain: one Spark job, the aggregate frame's values") {
    def frameValue(df: org.apache.spark.sql.DataFrame, columns: Seq[String] = Nil,
                   sort: Boolean = true, orderCol: Option[String] = None) = {
      val r = DatasetChecksum(df, columns, sort, orderCol).collect()(0)
      (BigDecimal(r.getDecimal(0)), BigDecimal(r.getDecimal(1)), r.getLong(2))
    }
    val fixture = AllTypesFixtureSpec.fixture()
    // (frame, its jobs): a shuffle in the input runs as a job of its own
    val frames = Seq(fixture -> 1, fixture.repartition(3) -> 2,
      fixture.filter(col("int64").isNull) -> 1)
    for ((df, n) <- frames) {
      var v: (BigDecimal, BigDecimal, Long) = null
      assert(jobs { v = DatasetChecksum.value(df) } == n)
      assert(v == frameValue(df))
      assert(DatasetChecksum.value(df, Seq("float64", "unicode")) ==
        frameValue(df, Seq("float64", "unicode")))
    }
    val ordered = fixture.withColumn("pos", monotonically_increasing_id())
    assert(DatasetChecksum.value(ordered, sort = false, orderCol = Some("pos")) ==
      frameValue(ordered, sort = false, orderCol = Some("pos")))
    val links = Seq(fixture.limit(2), fixture.filter(col("int32") === -1), fixture)
    var c: (BigDecimal, BigDecimal, Long) = null
    assert(jobs { c = DatasetChecksum.chain(links) } <= 2, "a limit adds its own job")
    val sums = links.map(frameValue(_))
    assert(c == sums.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3)))
    val s = spark
    import s.implicits._
    val plain = Seq(Seq((1, "x")).toDF("k", "v"), Seq((2, "y"), (3, "z")).toDF("k", "v"),
      Seq((4, "w")).toDF("k", "v"))
    assert(jobs { c = DatasetChecksum.chain(plain) } == 1)
    assert(c == DatasetChecksum.value(plain.reduce(_ unionByName _)))
    // an empty dataset sums to zero on both paths, and adds nothing to a chain
    val zero = (BigDecimal(0), BigDecimal(0), 0L)
    val empty = fixture.limit(0)
    assert(DatasetChecksum.value(empty) == zero)
    assert(frameValue(empty) == zero)
    assert(DatasetChecksum.chain(Seq(empty)) == zero)
    assert(DatasetChecksum.chain(Seq(fixture, empty)) == frameValue(fixture))
  }

  test("hashpart: each key in exactly one partition") {
    val s = spark
    import s.implicits._
    val df = (0 until 1000).map(i => (i % 37, i)).toDF("k", "v")
    val parts = DatasetHashpart(df, "k", 8)
      .select(col("k"), spark_partition_id().as("pid")).distinct()
      .groupBy("k").count().collect().map(_.getLong(1))
    assert(parts.forall(_ == 1L))
  }

  test("merge snapshots: hashlabel conflict guard") {
    val s = spark
    import s.implicits._
    val store = new graft.core.SnapshotStore(s, TestSpark.tmpDir("merge_guard"))
    store.write(Seq((1, "x")).toDF("k", "v"), "mg_a",
      hashlabel = Some("k"), slices = 2)
    store.write(Seq((1, 9.0)).toDF("k", "w"), "mg_b",
      hashlabel = Some("w"), slices = 2)
    intercept[IllegalArgumentException] {
      DatasetMerge.snapshots(store, "mg_a", "mg_b", "k")
    }
    assert(DatasetMerge.snapshots(store, "mg_a", "mg_b", "k",
      allowUnrelated = true).count() == 1)
  }

  test("hashpart asChain: chain in, parallel hashed chain out") {
    val s = spark
    import s.implicits._
    val store = new graft.core.SnapshotStore(s, TestSpark.tmpDir("hp_chain"))
    store.write((1 to 10).map(i => (i % 3, i)).toDF("k", "v"), "hp_1", slices = 2)
    store.write((11 to 20).map(i => (i % 3, i)).toDF("k", "v"), "hp_2",
      previous = Some("hp_1"), slices = 2)
    val out = DatasetHashpart.asChain(store, "hp_2", "k", 4, "hp_out")
    assert(out.map(_.meta.name) == Seq("hp_out.hp_1", "hp_out.hp_2"))
    assert(out.last.meta.previous.contains("hp_out.hp_1"))
    assert(out.forall(_.meta.hashlabel.contains("k")))
    assert(store.iterateChain("hp_out.hp_2").count() == 20)
  }

  test("csvimport custom newline separator") {
    val p = java.nio.file.Paths.get(TestSpark.tmpDir("csv_nl"), "nl.csv")
    java.nio.file.Files.writeString(p, "a,b|1,2|3,4|")
    val res = graft.ops.CsvImport(spark, p.toString,
      graft.ops.CsvImportConfig(newline = "|"))
    val rows = res.data.collect().map(_.toSeq).toSet
    assert(rows == Set(Seq("1", "2"), Seq("3", "4")))
  }

  test("hashpart spread_None: nulls spread instead of one hot partition") {
    val s = spark
    import s.implicits._
    val df = (1 to 400).map(i => (if (i % 2 == 0) null else s"k${i % 5}", i))
      .toDF("k", "v")
    val plain = DatasetHashpart(df, "k", 8)
      .filter(col("k").isNull).select(spark_partition_id()).distinct().count()
    assert(plain == 1L, "without spread, all nulls hash to one partition")
    val spread = DatasetHashpart(df, "k", 8, spreadNone = true)
      .filter(col("k").isNull).select(spark_partition_id()).distinct().count()
    assert(spread > 1L, s"spreadNone must fan nulls out, got $spread partitions")
    // non-null keys still co-located
    val keyParts = DatasetHashpart(df, "k", 8, spreadNone = true)
      .filter(col("k").isNotNull)
      .select(col("k"), spark_partition_id().as("pid")).distinct()
      .groupBy("k").count().collect().map(_.getLong(1))
    assert(keyParts.forall(_ == 1L))
  }

  test("merge byKey: later dataset wins on column conflicts") {
    val s = spark
    import s.implicits._
    val a = Seq((1, "old", 10)).toDF("k", "name", "x")
    val b = Seq((1, "new")).toDF("k", "name")
    val m = DatasetMerge.byKey(a, b, "k").collect().head
    assert(m.getAs[String]("name") == "new")
    assert(m.getAs[Int]("x") == 10)
  }
}
