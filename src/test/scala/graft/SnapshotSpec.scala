package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.core.{Cols, Measure, SnapshotStore, ZoneMapOrder}
import TestSpark.{spark, tmpDir}

/** Snapshot store: metadata round-trip, chain walk, and the zone-map
  * pruning regression from round 1 (numeric min/max compared as strings
  * silently dropped matching snapshots: "150" < "20" lexicographically).
  */
class SnapshotSpec extends AnyFunSuite {

  test("zone-map compare is typed") {
    assert(ZoneMapOrder.compare("bigint", "150", "20").contains(1),
      "numeric compare must not be lexicographic")
    assert(ZoneMapOrder.compare("double", "-5.5", "2").exists(_ < 0))
    assert(ZoneMapOrder.compare("string", "150", "20").exists(_ < 0),
      "strings stay lexicographic")
    assert(ZoneMapOrder.compare("timestamp", "1994-06-01 00:00:00", "1995-01-01").exists(_ < 0))
    assert(ZoneMapOrder.compare("binary", "a", "b").isEmpty,
      "unknown orderings must keep the snapshot")
  }

  test("numeric range iteration returns rows a lexicographic prune would drop") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_zone"))
    // snapshot with min=2, max=150: "150" < "20" lexicographically, so the
    // round-1 bug pruned it for range [20, 500) and lost rows 20..150
    store.write(Seq(2L, 50L, 150L).toDF("k"), "zs_a", slices = 1)
    store.write(Seq(500L, 900L).toDF("k"), "zs_b",
      previous = Some("zs_a"), slices = 1)
    val got = store.iterateChain("zs_b", range = Some(("k", "20", "500")))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(50L, 150L))
  }

  test("zone maps still prune disjoint snapshots") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_prune"))
    store.write(Seq(1L, 9L).toDF("k"), "p_a", slices = 1)
    store.write(Seq(100L, 900L).toDF("k"), "p_b", previous = Some("p_a"), slices = 1)
    // sloppyRange skips the row filter: if pruning works, only p_b's rows appear
    val got = store.iterateChain("p_b", range = Some(("k", "50", "1000")),
      sloppyRange = true).collect().map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(100L, 900L), "disjoint snapshot p_a must be pruned")
  }

  test("meta round-trip: lines, hashlabel, previous, zone maps") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_meta"))
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    store.write(df, "m_a", hashlabel = Some("k"), slices = 4)
    val snap = store.get("m_a")
    assert(snap.meta.lines == 100)
    assert(snap.meta.hashlabel.contains("k"))
    assert(snap.meta.slices == 4)
    assert(snap.minOf("k").contains("1") && snap.maxOf("k").contains("100"))
    assert(snap.read(s).count() == 100)
  }

  test("hashed snapshot reads back co-partitioned: groupBy(hashlabel) plans no Exchange") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_bucket"))
    val df = (1 to 200).map(i => (i.toLong % 17, i.toLong)).toDF("k", "v")
    store.write(df, "bk_a", hashlabel = Some("k"), slices = 4)
    val agg = store.iterateChain("bk_a", hashlabel = Some("k"))
      .groupBy(col("k")).agg(sum(col("v")).as("sv"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"groupBy on the hashlabel of a hashed snapshot must not shuffle:\n$plan")
    // and the values are right
    val got = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (1 to 200).map(_.toLong).groupBy(_ % 17).map { case (k, vs) => k -> vs.sum }
    assert(got == want)
    // a fresh "session" re-registers the bucketed table from the sidecar:
    // DROP the catalog entry first (saveAsTable left it registered, which
    // would otherwise mask the CREATE TABLE re-registration path entirely)
    val dataDir = store.get("bk_a").meta.dataDir
      .getOrElse(s"${store.get("bk_a").dir}/data")
    s.sql(s"DROP TABLE IF EXISTS ${SnapshotStore.bucketTable(dataDir)}")
    val store2 = new SnapshotStore(s, store.root)
    val re = store2.readResolved("bk_a")
    assert(re.count() == 200)
    // and the re-registered table still recovers the hash partitioning
    val plan2 = re.groupBy(col("k")).agg(sum(col("v")))
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange"),
      s"re-registered bucketed table must keep co-partitioning:\n$plan2")
  }

  test("groupBy(hashlabel) over an unfiltered hashed chain: one group per key") {
    // Two links hashed on the same key: each link's bucketed scan is
    // hash-partitioned, but their Union is not — a Union that reported its
    // children's partitioning let the aggregate skip its Exchange and count
    // every key once per link (200 groups here, not 100).
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_union"))
    val day = (0 until 1000).map(i => (i.toLong % 100, i.toLong)).toDF("key", "v")
    store.write(day, "un.0", hashlabel = Some("key"))
    store.write(day, "un.1", hashlabel = Some("key"), previous = Some("un.0"))
    val chain = store.iterateChain("un.1")
    assert(chain.groupBy("key").count().count() == 100)
    assert(chain.agg(countDistinct(col("key"))).head.getLong(0) == 100)
    val counts = chain.groupBy("key").count().collect().map(_.getLong(1)).toSet
    assert(counts == Set(20L), "every key appears 10 times per link")
  }

  test("strange column names survive the snapshot layer (reference parity)") {
    val s = spark
    import s.implicits._
    // the reference stores arbitrary column names ("a b", "print@", "-",
    // "42" — test_methods/a_test_dataset_column_names.py); our layer must
    // not choke on them in writes, zone-map aggs, chains, or projections
    val store = new SnapshotStore(s, tmpDir("snap_names"))
    val df = Seq(("x1", "y1", 1L, "w1"), ("x2", "y2", 2L, "w2"))
      .toDF("a b", "print@", "-", "42")
    store.write(df, "odd.0", slices = 1)
    store.write(df, "odd.1", previous = Some("odd.0"), slices = 1)
    val snap = store.get("odd.1")
    assert(snap.columnNames == Seq("a b", "print@", "-", "42"))
    assert(snap.minOf("-").contains("1") && snap.maxOf("-").contains("2"),
      "zone maps computed for strangely-named numeric columns")
    val chained = store.iterateChain("odd.1", columns = Seq("print@", "-"))
    assert(chained.columns.toSeq == Seq("print@", "-"))
    assert(chained.count() == 4)
    val vals = chained.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(vals == Seq(("y1", 1L), ("y1", 1L), ("y2", 2L), ("y2", 2L)))
  }

  test("compactChain: one snapshot, same rows, hash co-partitioning kept") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_compact"))
    // a 3-link hashed chain, the shape a per-batch sink leaves behind
    var prev: Option[String] = None
    (0 until 3).foreach { i =>
      val df = (1 to 50).map(j => ((i * 50 + j).toLong % 7, (i * 50 + j).toLong))
        .toDF("k", "v")
      store.write(df, s"cc.$i", hashlabel = Some("k"), previous = prev, slices = 4)
      prev = Some(s"cc.$i")
    }
    store.compactChain("cc.2", "cc.compact")
    val snap = store.get("cc.compact")
    assert(snap.meta.previous.isEmpty, "the compacted snapshot IS the history")
    assert(snap.meta.hashlabel.contains("k"), "hashlabel survives compaction")
    assert(snap.meta.lines == 150L)
    assert(store.chain("cc.compact").size == 1, "chain walk is O(1) after compaction")
    // identical multiset of rows
    val want = store.iterateChain("cc.2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = store.readResolved("cc.compact").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want)
    // compacting a hashed chain writes a bucketed table: groupBy on the
    // hashlabel over the COMPACTED snapshot still plans no Exchange
    val plan = store.readResolved("cc.compact")
      .groupBy(col("k")).agg(sum(col("v")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"compacted hashed snapshot must keep co-partitioning:\n$plan")
    // and the compacted tip accepts further appends as a chain base
    store.write(Seq((3L, 999L)).toDF("k", "v"), "cc.3",
      hashlabel = Some("k"), previous = Some("cc.compact"), slices = 4)
    assert(store.iterateChain("cc.3").count() == 151)
    // the order/slicing-independent dataset checksum is invariant under
    // compaction — the cross-operator identity a maintenance job must keep
    val before = graft.ops.DatasetChecksum.value(store.iterateChain("cc.2"))
    val after = graft.ops.DatasetChecksum.value(store.readResolved("cc.compact"))
    assert(before == after, "compaction must preserve the dataset checksum")
  }

  test("artifact format stamps: mismatch and legacy are rejected loudly, " +
      "chains check every link, compaction inherits the stamp") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_artifact"))
    // current-version path: write stamped, read with the same stamp
    store.write(Seq(1L, 2L).toDF("h"), "art_a", slices = 1,
      formatVersion = Some(2))
    assert(store.readArtifact("art_a", 2).count() == 2)
    // survives the meta.json round-trip, not just the in-JVM cache
    val store2 = new SnapshotStore(s, store.root)
    assert(store2.get("art_a").meta.formatVersion.contains(2))
    assert(store2.readArtifact("art_a", 2).count() == 2)
    // a DIFFERENT expected format is the rebuild-required failure
    val eMis = intercept[IllegalStateException] {
      store.readArtifact("art_a", 3)
    }
    assert(eMis.getMessage.contains("REBUILD REQUIRED"), eMis.getMessage)
    // an UNSTAMPED (legacy / plain-data) snapshot read as an artifact is
    // the r18 line-index class: must fail loudly, never silently zero-match
    store.write(Seq(9L).toDF("h"), "art_legacy", slices = 1)
    val eLegacy = intercept[IllegalStateException] {
      store.readArtifact("art_legacy", 2)
    }
    assert(eLegacy.getMessage.contains("UNSTAMPED"), eLegacy.getMessage)
    assert(store.readResolved("art_legacy").count() == 1,
      "plain reads of unstamped snapshots must be unaffected")
    // chain check covers EVERY link: a stale link under a fresh tip fails
    store.write(Seq(3L).toDF("h"), "art_b", previous = Some("art_legacy"),
      slices = 1, formatVersion = Some(2))
    val eChain = intercept[IllegalStateException] {
      store.readArtifact("art_b", 2)
    }
    assert(eChain.getMessage.contains("art_legacy"), eChain.getMessage)
    // compactChain inherits a uniform stamp (an unstamped compact of a
    // stamped index would make every later load fail as legacy)...
    store.write(Seq(4L).toDF("h"), "art_c", previous = Some("art_a"),
      slices = 1, formatVersion = Some(2))
    store.compactChain("art_c", "art_cc")
    assert(store.get("art_cc").meta.formatVersion.contains(2))
    assert(store.readArtifact("art_cc", 2).count() == 3)
    // ...and refuses to invent one for a mixed chain
    store.compactChain("art_b", "art_bc")
    assert(store.get("art_bc").meta.formatVersion.isEmpty)
  }

  test("parent column-append: zero-copy storage, resolved read") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_parent"))
    val base = (1 to 50).map(i => (i.toLong, s"name$i")).toDF("k", "v")
    store.write(store.withRowId(base), "par_base", slices = 2)
    store.appendColumns("par_base", "par_child") { parent =>
      parent.select(col(SnapshotStore.RowIdName), (col("k") * 2).as("k2"))
    }
    val resolved = store.readResolved("par_child")
    assert(resolved.count() == 50)
    assert(resolved.filter(col("k2") =!= col("k") * 2).count() == 0)
    // zero-copy: the child dir stores only rowid + k2
    val childRaw = store.get("par_child").read(s)
    assert(childRaw.columns.sorted.toSeq == Seq(SnapshotStore.RowIdName, "k2"))
    // merged metadata exposes all logical columns
    assert(store.get("par_child").columnNames.toSet.contains("v"))
  }

  test("appendColumns replace: child shadows parent columns, still zero-copy") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_replace"))
    val base = (1 to 20).map(i => (i.toLong, s"v$i", i * 10)).toDF("k", "v", "w")
    store.write(store.withRowId(base), "rep_base", slices = 2)
    // overlap without replace=true is an error
    intercept[IllegalArgumentException] {
      store.appendColumns("rep_base", "rep_err") { p =>
        p.select(col(SnapshotStore.RowIdName), lit("x").as("v"))
      }
    }
    store.appendColumns("rep_base", "rep_upd", replace = true) { p =>
      p.select(col(SnapshotStore.RowIdName),
        concat(col("v"), lit("!")).as("v"), (col("w") + 1).as("w2"))
    }
    // only the changed/new columns are stored
    assert(store.get("rep_upd").read(s).columns.sorted.toSeq ==
      Seq(SnapshotStore.RowIdName, "v", "w2"))
    val resolved = store.readResolved("rep_upd")
    assert(resolved.filter(col("v") =!= concat(lit("v"), col("k"), lit("!"))).count() == 0,
      "child version of v wins")
    assert(resolved.filter(col("w2") =!= col("w") + 1).count() == 0,
      "untouched parent column w still readable")
  }

  test("linkToHere: metadata alias sharing the data directory") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_link"))
    store.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), "ln_orig", slices = 1)
    store.linkToHere("ln_orig", "ln_alias")
    assert(store.get("ln_alias").read(s).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(store.get("ln_alias").meta.dataDir.exists(_.contains("ln_orig")))
  }

  test("pre-callback Skip/Stop controls and hashlabel enforcement") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_cb"))
    store.write(Seq(1).toDF("k"), "cb_1", slices = 1)
    store.write(Seq(2).toDF("k"), "cb_2", previous = Some("cb_1"), slices = 1)
    store.write(Seq(3).toDF("k"), "cb_3", previous = Some("cb_2"), slices = 1)
    import graft.core.IterateControl._
    val skipped = store.iterateChain("cb_3", preCallback = Some { snap =>
      if (snap.meta.name == "cb_2") throw SkipDataset
    }).collect().map(_.getInt(0)).sorted.toSeq
    assert(skipped == Seq(1, 3))
    val stopped = store.iterateChain("cb_3", preCallback = Some { snap =>
      if (snap.meta.name == "cb_2") throw StopIteration
    }).collect().map(_.getInt(0)).sorted.toSeq
    assert(stopped == Seq(1), "StopIteration cuts the rest of the chain")
    // hashlabel check: cb_* are unhashed
    intercept[IllegalArgumentException] {
      store.iterateChain("cb_3", hashlabel = Some("k"))
    }
    // rehash instead of erroring
    assert(store.iterateChain("cb_3", hashlabel = Some("k"), rehash = true)
      .count() == 3)
  }

  test("filterColumns: metadata-only, shares the data directory") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_fc"))
    store.write((1 to 10).map(i => (i, s"v$i", i * 1.0)).toDF("a", "b", "c"),
      "fc_full", slices = 1)
    store.filterColumns("fc_full", "fc_ab", Seq("a", "b"))
    val got = store.readResolved("fc_ab")
    assert(got.columns.toSeq == Seq("a", "b"))
    assert(got.count() == 10)
    assert(store.get("fc_ab").meta.dataDir.exists(_.contains("fc_full")))
    intercept[IllegalArgumentException] {
      store.filterColumns("fc_full", "fc_bad", Seq("nope"))
    }
    // the metadata filter also applies through a parent chain: filtering a
    // column-append snapshot must not silently re-expose dropped columns
    store.write(store.withRowId((1 to 5).map(i => (i, s"v$i")).toDF("k", "v")),
      "fcp_base", slices = 1)
    store.appendColumns("fcp_base", "fcp_ext") { p =>
      p.select(col(SnapshotStore.RowIdName), (col("k") * 2).as("k2"))
    }
    store.filterColumns("fcp_ext", "fcp_slim",
      Seq(SnapshotStore.RowIdName, "k", "k2"))
    assert(store.readResolved("fcp_slim").columns.sorted.toSeq ==
      Seq(SnapshotStore.RowIdName, "k", "k2"), "v must stay dropped")
  }

  test("post-callback fires after inclusion, Stop cuts the chain AFTER") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_post"))
    store.write(Seq(1).toDF("k"), "pc_1", slices = 1)
    store.write(Seq(2).toDF("k"), "pc_2", previous = Some("pc_1"), slices = 1)
    store.write(Seq(3).toDF("k"), "pc_3", previous = Some("pc_2"), slices = 1)
    import graft.core.IterateControl._
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val got = store.iterateChain("pc_3", postCallback = Some { snap =>
      seen += snap.meta.name
      if (snap.meta.name == "pc_2") throw StopIteration
    }).collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(1, 2), "StopIteration from post includes the current snapshot")
    assert(seen.toSeq == Seq("pc_1", "pc_2"), "post fires once per included snapshot")
    // skipped snapshots get no post callback (reference dataset.py:757-760)
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[String]
    store.iterateChain("pc_3",
      preCallback = Some { snap =>
        if (snap.meta.name == "pc_2") throw SkipDataset },
      postCallback = Some { snap => seen2 += snap.meta.name }).count()
    assert(seen2.toSeq == Seq("pc_1", "pc_3"))
  }

  test("sliceWindow: whole-snapshot skip, boundary offset/limit, negatives") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_slice"))
    // 3 snapshots x 10 rows, lineno 0..29
    (0 until 3).foreach { i =>
      store.write((i * 10 until (i + 1) * 10).map(_.toLong).toDF("lineno"),
        s"sl_$i", previous = if (i == 0) None else Some(s"sl_${i - 1}"), slices = 2)
    }
    def win(a: Option[Long], b: Option[Long]) =
      store.iterateChain("sl_2", sliceWindow = Some((a, b)),
        orderCol = Some("lineno")).collect().map(_.getLong(0)).sorted.toSeq
    assert(win(Some(7), Some(23)) == (7L until 23L))
    assert(win(Some(10), Some(20)) == (10L until 20L), "exact snapshot boundaries")
    assert(win(Some(-5), None) == (25L until 30L), "negative start = last N lines")
    assert(win(Some(3), Some(-24)) == (3L until 6L), "negative stop resolves vs total")
    assert(win(Some(12), Some(12)).isEmpty, "start == stop is empty")
    assert(win(Some(30), None).isEmpty, "start == total is empty")
    intercept[IllegalArgumentException] { win(Some(31), None) }
    intercept[IllegalArgumentException] { win(Some(-31), None) }
    intercept[IllegalArgumentException] { win(Some(9), Some(4)) }
    intercept[IllegalArgumentException] {
      store.iterateChain("sl_2", sliceWindow = Some((Some(1L), Some(5L))),
        range = Some(("lineno", "0", "99")))
    }
    // a window aligned to snapshot boundaries needs no orderCol
    assert(store.iterateChain("sl_2", sliceWindow = Some((Some(10L), Some(30L))))
      .collect().map(_.getLong(0)).sorted.toSeq == (10L until 30L))
    // snapshots outside the window are skipped from metadata alone: a
    // window inside sl_1 plans NO scan of sl_0 or sl_2
    val mid = store.iterateChain("sl_2", sliceWindow = Some((Some(13L), Some(17L))),
      orderCol = Some("lineno"))
    assert(mid.inputFiles.nonEmpty && mid.inputFiles.forall(_.contains("sl_1")),
      "only the snapshot covering the window is scanned")
  }

  test("chain walk respects length and order") {
    val s = spark
    import s.implicits._
    val store = new SnapshotStore(s, tmpDir("snap_chain"))
    store.write(Seq(1).toDF("k"), "c_1", slices = 1)
    store.write(Seq(2).toDF("k"), "c_2", previous = Some("c_1"), slices = 1)
    store.write(Seq(3).toDF("k"), "c_3", previous = Some("c_2"), slices = 1)
    assert(store.chain("c_3").map(_.meta.name) == Seq("c_3", "c_2", "c_1"))
    assert(store.chain("c_3", length = 2).map(_.meta.name) == Seq("c_3", "c_2"))
    assert(store.iterateChain("c_3").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(1, 2, 3))
  }

  test("NaN zone maps: excluded unless it's the only value (a_test_dataset_nan.py)") {
    val s = TestSpark.spark
    import s.implicits._
    val store = new SnapshotStore(s, TestSpark.tmpDir("nan_store"))
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    // all-NaN (+ a null): min=max=NaN, nulls ignored
    val a = store.write(Seq[(java.lang.Double, java.lang.Double)](
      (nan, nan), (nan, nan), (null, nan)).toDF("f64", "g64"), "nan_a", slices = 1)
    assert(a.minOf("f64").contains("NaN") && a.maxOf("f64").contains("NaN"))
    // NaN alongside real values: NaN excluded entirely
    val b = store.write(Seq(nan, 2.0, nan).toDF("f64"), "nan_b", slices = 1)
    assert(b.minOf("f64").contains("2.0") && b.maxOf("f64").contains("2.0"))
    // mixed with infinity: inf is a real value and becomes the max
    val c = store.write(Seq(nan, inf, 0.0, nan).toDF("f64"), "nan_c", slices = 1)
    assert(c.minOf("f64").contains("0.0"), s"got ${c.minOf("f64")}")
    assert(c.maxOf("f64").contains("Infinity"), s"got ${c.maxOf("f64")}")
  }

  test("a failed rewrite leaves no snapshot, not the old meta.json over new data") {
    val root = tmpDir("snap_failed_rewrite")
    val store = new SnapshotStore(spark, root)
    store.write(spark.range(10).toDF("k"), "s", slices = 1)
    assert(store.exists("s"))
    val boom = udf { (k: Long) =>
      if (k >= 0) throw new IllegalStateException("task failure"); k
    }
    intercept[Exception](store.write(
      spark.range(10).toDF("k").select(boom(col("k")).as("k")), "s", slices = 1))
    assert(!store.exists("s"))
    assert(!new SnapshotStore(spark, root).exists("s"))
  }

  test("a write evaluates its source once, in the write's own stages") {
    val sc = spark.sparkContext
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    Seq(None, Some("k")).foreach { hashlabel =>
      val parsed = sc.longAccumulator
      val rows = sc.parallelize(0 until 1000, 4).map { i =>
        parsed.add(1); Row((i % 37).toLong, s"v$i")
      }
      val store = new SnapshotStore(spark,
        tmpDir(s"snap_once_${hashlabel.getOrElse("plain")}"))
      val counts = Measure.during(spark) {
        store.write(spark.createDataFrame(rows, schema), "once",
          hashlabel = hashlabel, slices = 4)
      }
      assert(store.get("once").meta.lines == 1000)
      assert(parsed.value == 1000, s"hashlabel $hashlabel: every row is parsed once")
      // unhashed: the write stage; hashed: the routing shuffle's map stage
      // and the write stage
      assert(counts.stages == (if (hashlabel.isDefined) 2 else 1),
        s"hashlabel $hashlabel: $counts")
    }
  }

  /** What the agg that used to run after every write computed over the
    * same frame: the line count and, per comparable column, min/max as
    * strings with NaN ignored unless every value is NaN. An oracle for the
    * metrics the write now observes on its own plan.
    */
  private def aggMeta(df: DataFrame, zoneMaps: Boolean)
      : (Long, Map[String, (Option[String], Option[String])]) = {
    val comparable = df.schema.fields.filterNot(f =>
      Set("binary", "array", "map", "struct").contains(f.dataType.typeName)).toSeq
    val minMax = if (!zoneMaps) Nil else comparable.flatMap { f =>
      val qc = Cols.q(f.name)
      f.dataType.typeName match {
        case "double" | "float" =>
          val nonNaN = when(!isnan(qc), qc)
          val allNaN = max(when(isnan(qc), lit("NaN")))
          Seq(coalesce(min(nonNaN).cast("string"), allNaN),
              coalesce(max(nonNaN).cast("string"), allNaN))
        case _ => Seq(min(qc).cast("string"), max(qc).cast("string"))
      }
    }
    val row = df.agg(count(lit(1)), minMax: _*).collect()(0)
    val mm = if (!zoneMaps) Map.empty[String, (Option[String], Option[String])]
      else comparable.zipWithIndex.map { case (f, i) =>
        f.name -> (Option(row.getString(1 + 2 * i)), Option(row.getString(2 + 2 * i)))
      }.toMap
    (row.getLong(0), mm)
  }

  test("observed line count and zone maps equal the old agg's, case by case") {
    val root = tmpDir("snap_observed")
    val store = new SnapshotStore(spark, root)
    val mixed = spark.range(300).select(
      (col("id") % 37).as("k"),
      concat(lit("v"), (col("id") % 53).cast("string")).as("s"),
      when(col("id") % 11 === 0, lit(Double.NaN))
        .otherwise(col("id") * 0.5 - 40).as("d"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 90).cast("int")).as("day"),
      when(col("id") % 7 =!= 0, (col("id") * 3).cast("decimal(12,2)")).as("dec"),
      (col("id") % 3 === 0).as("flag"),
      array(col("id")).as("arr"))
    val empty = mixed.filter(lit(false))
    val nans = Seq[(java.lang.Double, java.lang.Double)](
      (Double.NaN, Double.NaN), (Double.NaN, Double.NaN), (null, Double.NaN))
    val s = spark
    import s.implicits._
    // (name, frame, zoneMaps, the write)
    val cases: Seq[(String, DataFrame, Boolean, (DataFrame, String) => Any)] = Seq(
      ("unhashed", mixed, true, (df, n) => store.write(df, n)),
      ("hashed", mixed, true, (df, n) => store.write(df, n, hashlabel = Some("k"), slices = 4)),
      ("prerouted", mixed.repartition(4, col("k")), true,
        (df, n) => store.write(df, n, hashlabel = Some("k"), slices = 4, preRouted = true)),
      ("nozonemaps", mixed, false, (df, n) => store.write(df, n, zoneMaps = false)),
      ("nozonemaps_hashed", mixed, false,
        (df, n) => store.write(df, n, hashlabel = Some("k"), zoneMaps = false)),
      ("oneslice", mixed, true, (df, n) => store.write(df, n, slices = 1)),
      ("alltypes", AllTypesFixtureSpec.fixture(), true, (df, n) => store.write(df, n, slices = 2)),
      ("allnan", nans.toDF("f64", "g64"), true, (df, n) => store.write(df, n, slices = 1)),
      ("somenan", Seq(Double.NaN, 2.0, Double.NaN).toDF("f64"), true,
        (df, n) => store.write(df, n, slices = 1)),
      ("infinity", Seq(Double.NaN, Double.PositiveInfinity, 0.0, Double.NaN).toDF("f64"), true,
        (df, n) => store.write(df, n, slices = 1)),
      ("empty", empty, true, (df, n) => store.write(df, n)),
      ("empty_hashed", empty, true, (df, n) => store.write(df, n, hashlabel = Some("k"))))
    cases.foreach { case (name, df, zoneMaps, write) =>
      write(df, name)
      // meta.json as published, read by a fresh store
      val meta = new SnapshotStore(spark, root).get(name).meta
      val (lines, mm) = aggMeta(df, zoneMaps)
      assert(meta.lines == lines, s"$name: lines")
      meta.columns.foreach { c =>
        assert((c.min, c.max) == mm.getOrElse(c.name, (None, None)), s"$name: column ${c.name}")
      }
    }
    Seq("empty", "empty_hashed").foreach { name =>
      val meta = store.get(name).meta
      assert(meta.lines == 0 && meta.columns.forall(c => c.min.isEmpty && c.max.isEmpty), name)
    }
    // the comparison is not vacuous: the frames do carry zone maps
    assert(store.get("hashed").minOf("d").contains("-39.5"))
    assert(store.get("allnan").maxOf("f64").contains("NaN"))
    assert(store.get("alltypes").maxOf("float64").contains("1.0E100"))
  }
}
