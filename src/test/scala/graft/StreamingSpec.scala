package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.core.SnapshotStore
import graft.streaming.Streams
import graft.streaming.Streams.{SessionEvent, SessionOut}
import TestSpark.{spark, tmpDir}

/** Structured Streaming: watermarked windows, custom session state, and
  * the stream→chain bridge (micro-batches landing as chained snapshots).
  */
class StreamingSpec extends AnyFunSuite {

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("windowed counts with watermark close windows exactly once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF.toDF("ts", "event_type", "value")
    val out = Streams.windowedCounts(events,
      windowLen = "10 minutes", slide = "10 minutes", watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(11), "view", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to close the 10:00 and 10:10 windows
      in.addData((ts(40), "late", 0.0))
      q.processAllAvailable()
      val rows = s.sql("SELECT event_type, n, total_value FROM wc ORDER BY event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows == Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("dedupStream drops repeated content within the watermark horizon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = in.toDF.toDF("ts", "doc_id", "text")
    val out = Streams.dedupStream(docs, "ts", "text", watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dds")
      .outputMode(OutputMode.Append()).start()
    try {
      // same normalized content twice in one batch + once in the next
      in.addData((ts(1), 1L, "hello  world"), (ts(2), 2L, "hello world"),
        (ts(3), 3L, "different text"))
      q.processAllAvailable()
      in.addData((ts(4), 4L, "HELLO WORLD"), (ts(5), 5L, "fresh content"))
      q.processAllAvailable()
      val ids = s.sql("SELECT doc_id FROM dds").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 3L, 5L),
        "whitespace/case-normalized duplicates drop across batches within the watermark")
    } finally q.stop()
  }

  test("stream-stream join matches only within the event-time bound") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val imps = MemoryStream[(java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val out = Streams.joinWithin(
      imps.toDF.toDF("imp_ts", "imp_key"),
      clicks.toDF.toDF("click_ts", "click_key"),
      "imp_key", "click_key", "imp_ts", "click_ts",
      within = "5 minutes", watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).start()
    try {
      imps.addData((ts(1), 100L), (ts(2), 200L), (ts(3), 300L))
      // key 100 clicks in-bound; 200 clicks too late (7 min); 300 never;
      // 400 clicks with no impression
      clicks.addData((ts(4), 100L), (ts(9), 200L), (ts(5), 400L))
      q.processAllAvailable()
      val got = s.sql("SELECT imp_key FROM ssj").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(100L),
        "only the in-bound (key, time) pair joins; late and unmatched rows do not")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join emits unmatched rows after the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val imps = MemoryStream[(java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val out = Streams.joinWithin(
      imps.toDF.toDF("imp_ts", "imp_key"),
      clicks.toDF.toDF("click_ts", "click_key"),
      "imp_key", "click_key", "imp_ts", "click_ts",
      within = "5 minutes", watermark = "10 minutes", joinType = "leftOuter")
    val q = out.writeStream.format("memory").queryName("ssjo")
      .outputMode(OutputMode.Append()).start()
    try {
      imps.addData((ts(1), 100L), (ts(2), 200L))
      clicks.addData((ts(4), 100L))
      q.processAllAvailable()
      // push both watermarks far past the bound so 200's no-match is final
      imps.addData((ts(59), 900L))
      clicks.addData((ts(59), 901L))
      q.processAllAvailable()
      val got = s.sql("SELECT imp_key, click_key FROM ssjo WHERE imp_key < 900")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(got == Set((100L, 100L), (200L, -1L)),
        "matched row joins; unmatched row emits with null right side once provably final")
    } finally q.stop()
  }

  test("sessionization: gap closes a session, state carries across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = Streams.sessionize(in.toDS(), gapMs = 5 * 60 * 1000, idleFlush = false)
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(SessionEvent(1L, ts(0), 1.0), SessionEvent(1L, ts(2), 2.0))
      q.processAllAvailable()
      // a gap > 5 min closes the first session when the next event arrives
      in.addData(SessionEvent(1L, ts(20), 7.0))
      q.processAllAvailable()
      val rows = s.sql("SELECT user_id, n_events, total_value FROM sess")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(rows == Seq((1L, 2, 3.0)), s"first session closed once: $rows")
    } finally q.stop()
  }

  test("idleFlush=true: a silent user's session closes by processing-time timeout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val in = MemoryStream[SessionEvent]
    // NOTE: processAllAvailable cannot be used here — with
    // ProcessingTimeTimeout the engine keeps scheduling empty batches to
    // evaluate timeouts, so it never settles. Poll the sink with a
    // deadline instead; the timeout itself is what closes the session.
    val q = Streams.sessionize(in.toDS(), gapMs = 1500, idleFlush = true)
      .writeStream.format("memory").queryName("sessto")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      in.addData(SessionEvent(1L, ts(0), 1.0))
      // no further events arrive: ONLY the processing-time timeout path
      // (state.hasTimedOut) can emit this session
      def rows() = s.sql("SELECT user_id, n_events, total_value FROM sessto").collect()
      val deadline = System.currentTimeMillis() + 60000
      while (rows().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(250)
      val got = rows().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      assert(got == Seq((1L, 1, 1.0)),
        s"session flushed by idle timeout, exactly once: ${got.toList}")
    } finally q.stop()
  }

  test("chainSink: micro-batches land as a chained, iterable snapshot history") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("stream_src")
    val store = new SnapshotStore(s, tmpDir("stream_store"))
    // two source files → with maxFilesPerTrigger=1, two micro-batches
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(dir)
    Seq((3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(dir)
    val stream = Streams.eventStream(s, dir, maxFilesPerTrigger = 1)
    val q = Streams.chainSink(stream, store, "ev",
      checkpoint = tmpDir("stream_ckpt"))
    q.awaitTermination(60000)
    val names = store.list().filter(_.startsWith("ev."))
    assert(names.size == 2, s"expected 2 chained snapshots, got $names")
    val tip = names.sorted.last
    assert(store.get(tip).meta.previous.contains(names.sorted.head))
    assert(store.iterateChain(tip).count() == 3)
  }

  test("edge ingest: PageRank over a stream-accumulated edge chain == batch") {
    val s = spark
    import s.implicits._
    import graft.ops.PageRank
    val dir = tmpDir("gredge_src")
    val store = new SnapshotStore(s, tmpDir("gredge_store"))
    val b1 = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val b2 = Seq((2L, 1L), (3L, 2L), (4L, 1L), (1L, 2L)) // cross-batch dup
    b1.toDF("src", "dst").coalesce(1).write.mode("append").parquet(dir)
    b2.toDF("src", "dst").coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.chainSink(Streams.eventStream(s, dir), store, "edges",
      checkpoint = tmpDir("gredge_ckpt"))
    q.awaitTermination(60000)
    val tip = store.list().filter(_.startsWith("edges.")).sorted.last
    val got = PageRank.ranks(store.iterateChain(tip), "src", "dst",
        iters = 4)
      .as[(Long, Long)].collect().toMap
    val want = PageRank.ranks((b1 ++ b2).toDF("src", "dst"), "src", "dst",
        iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == want, "the edge chain is a first-class graph input")
  }

  test("nearDupDedupSink: streaming near-dup dedup against the chain index") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("nd_src")
    val store = new SnapshotStore(s, tmpDir("nd_store"))
    val base = "the quick brown fox jumps over the lazy dog again and again"
    // appended-token variants: jaccard ~0.91 (a replaced token gives only
    // ~0.54, which sits in the 8-band sketch's ~6% miss zone)
    // file 1 → batch 0: doc 2 near-dups doc 1
    Seq((1L, base), (2L, base + " extra")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    // file 2 → batch 1: doc 3 near-dups HISTORY; doc 4 is fresh
    Seq((3L, base + " bonus"),
        (4L, "completely different words with no shared trigrams at all here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = Streams.eventStream(s, dir, maxFilesPerTrigger = 1)
    val q = Streams.nearDupDedupSink(stream, "doc_id", "text",
      store, "ndidx", "ndout", checkpoint = tmpDir("nd_ckpt"),
      n = 3, k = 16, bands = 8, threshold = 0.5)
    q.awaitTermination(120000)
    val outs = store.list().filter(_.startsWith("ndout.")).sorted
    assert(outs.size == 2, s"expected 2 survivor snapshots, got $outs")
    val survivors = store.iterateChain(outs.last, columns = Seq("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(1L, 4L),
      "batch 0 keeps the min-id rep; batch 1 drops the history near-dup, keeps the fresh doc")
    val idxTip = store.list().filter(_.startsWith("ndidx.")).sorted.last
    assert(store.iterateChain(idxTip).count() == 4,
      "the index chain accumulates every doc's sketch, survivors or not")
  }

  test("nearDupDedupSink: periodic compaction folds the index chain, same results") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ndc_src")
    val store = new SnapshotStore(s, tmpDir("ndc_store"))
    val base = "the quick brown fox jumps over the lazy dog again and again"
    // batch 0: doc 2 near-dups doc 1
    Seq((1L, base), (2L, base + " extra")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: doc 3 near-dups history, doc 4 fresh — then compaction runs
    Seq((3L, base + " bonus"),
        (4L, "completely different words with no shared trigrams at all here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    // batch 2: doc 5 near-dups history THROUGH the compacted index; doc 6 fresh
    Seq((5L, base + " more"),
        (6L, "yet another unrelated sentence sharing nothing with the fox text"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = Streams.eventStream(s, dir, maxFilesPerTrigger = 1)
    val q = Streams.nearDupDedupSink(stream, "doc_id", "text",
      store, "ndidx", "ndout", checkpoint = tmpDir("ndc_ckpt"),
      n = 3, k = 16, bands = 8, threshold = 0.5,
      compactEvery = Some(1))
    q.awaitTermination(120000)
    val survivors = store.iterateChain("ndout.2", columns = Seq("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(1L, 4L, 6L),
      s"dedup results must be identical with compaction on, got $survivors")
    // batch 2's history came from the compacted tip: its index snapshot
    // chains onto ndidx.2-c... rather, ndidx.2 was written BEFORE the
    // compaction at batch 2, so check batch 2's previous is batch 1's
    // compacted snapshot
    assert(store.get("ndidx.2").meta.previous.contains("ndidx.1-c"),
      "appends after a compaction must chain onto the compacted base")
    assert(store.get("ndidx.1-c").meta.previous.isEmpty)
    assert(store.chain("ndidx.2").size == 2,
      "chain depth stays O(compactEvery), not O(batches)")
    assert(store.iterateChain("ndidx.2").count() == 6,
      "no sketches lost across compaction")
  }

  test("compaction under load: 32 micro-batches keep tip reads O(compactEvery)") {
    // The existing compaction test proves correctness across ~3 batches;
    // this one proves the POLICY holds at realistic batch counts: with
    // compactEvery = 4 over 32 micro-batches, the index chain a new batch
    // must read never exceeds compactEvery + 1 snapshots (one compacted
    // base + the appends since), so tip-read plan cost is O(compactEvery),
    // not O(batches). Without compaction the same load walks O(batches)
    // snapshots — asserted on an 8-batch control below, so the bounded
    // depth is demonstrably the compaction's doing.
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    def feed(dir: String, batches: Int): Unit =
      for (i <- 0 until batches) {
        val fresh = s"s$i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
        val docs =
          if (i == 0) Seq((1L, base), (2L, fresh))
          else Seq((10L * i + 1, base + s" x$i"), // near-dups history
                   (10L * i + 2, fresh))          // disjoint tokens: kept
        docs.toDF("doc_id", "text")
          .coalesce(1).write.mode("append").parquet(dir)
      }
    val batches = 32
    val every = 4
    val dir = tmpDir("ndl_src")
    feed(dir, batches)
    val store = new SnapshotStore(s, tmpDir("ndl_store"))
    val q = Streams.nearDupDedupSink(
      Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
      "doc_id", "text", store, "ndlidx", "ndlout",
      checkpoint = tmpDir("ndl_ckpt"),
      n = 3, k = 16, bands = 8, threshold = 0.5,
      compactEvery = Some(every))
    q.awaitTermination(600000)
    // every doc's sketch survives: 2 per batch, none lost across 8 compactions
    val tip = store.list().filter(_.startsWith("ndlidx."))
      .maxBy(n => n.split("\\.").last.takeWhile(_.isDigit).toInt)
    assert(store.iterateChain(tip).count() == 2L * batches,
      "sketches lost under compaction load")
    // the near-dup stream deduped correctly THROUGH every compacted base:
    // each batch's base-variant doc dropped against history, fresh kept
    val outTip = store.list().filter(_.startsWith("ndlout."))
      .maxBy(n => n.split("\\.").last.toInt)
    val survivors = store.iterateChain(outTip, columns = Seq("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = (1L +: 2L +: (1 until batches).map(i => 10L * i + 2)).sorted
    assert(survivors == want, s"got $survivors")
    // THE load claim: chain depth at the tip — what the NEXT batch's
    // history read walks — is bounded by compactEvery + 1 at every
    // point in the run, and the physical read fans out over exactly
    // chain-depth parquet relations (no hidden O(batches) union)
    val depth = store.chain(tip).size
    assert(depth <= every + 1, s"tip chain depth $depth after $batches " +
      s"batches with compactEvery=$every — compaction is not bounding reads")
    val leaves = store.iterateChain(tip)
      .queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves <= every + 1, s"tip read scans $leaves relations")
    // historical tips the run actually read: every post-compaction batch
    // chained onto a compacted base, so NO batch ever walked more than
    // compactEvery + 1 snapshots
    (1 until batches).foreach { b =>
      val d = store.chain(s"ndlidx.$b").size
      assert(d <= every + 1,
        s"batch $b read a depth-$d chain (> ${every + 1})")
    }
    // control: the same sink without compaction walks O(batches) —
    // proving the depth bound above is the policy, not the fixture
    val dir2 = tmpDir("ndl2_src")
    feed(dir2, 8)
    val store2 = new SnapshotStore(s, tmpDir("ndl2_store"))
    val q2 = Streams.nearDupDedupSink(
      Streams.eventStream(s, dir2, maxFilesPerTrigger = 1),
      "doc_id", "text", store2, "ndlidx", "ndlout",
      checkpoint = tmpDir("ndl2_ckpt"),
      n = 3, k = 16, bands = 8, threshold = 0.5, compactEvery = None)
    q2.awaitTermination(600000)
    assert(store2.chain("ndlidx.7").size == 8,
      "uncompacted control should walk one snapshot per batch")
  }

  test("lineDedupSink: streaming line dedup against the chain line index") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ld_src")
    val store = new SnapshotStore(s, tmpDir("ld_store"))
    // batch 0: "boiler" repeats across docs — doc 1 (smaller id) owns
    Seq((1L, "keep me\nboiler"), (2L, "boiler\nmine too"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    // batch 1: doc 3 hits HISTORY; doc 4 repeats itself around a blank
    Seq((3L, "boiler\nfresh line"), (4L, "all new\n\nall new"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.lineDedupSink(Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
      "doc_id", "text", store, "ldidx", "ldout", checkpoint = tmpDir("ld_ckpt"))
    q.awaitTermination(120000)
    val out = store.iterateChain("ldout.1")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 0L, 0L, "keep me\nboiler"),
      (2L, 0L, 1L, "mine too"),
      (3L, 1L, 0L, "fresh line"),
      (4L, 0L, 1L, "all new\n")),
      s"got $out")
    assert(store.iterateChain("ldidx.1").count() == 5,
      "index holds one hash per kept line: 3 from batch 0 + 2 fresh")
  }

  test("semanticDedupSink: streaming semantic dedup against frozen centroids") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("sd_src")
    val store = new SnapshotStore(s, tmpDir("sd_store"))
    def vec(x: Double) = Seq.fill(4)(x)
    def df(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    // centroids fitted OFFLINE on two anchor points — two clusters at 0 and 2
    val mus = graft.ops.KMeans.fit(df(10L -> vec(0.0), 11L -> vec(2.0)),
      "vec_id", "embedding", k = 2, iters = 0)
    // batch 0: ids 1,2 are exact dups (cluster 0) — lower id keeps; 3 is
    // the other cluster's first member
    df(1L -> vec(0.0), 2L -> vec(0.0), 3L -> vec(2.0))
      .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: 4 duplicates HISTORY survivor 1 — drops; 5 is same cluster
    // as 3 but outside tau=0 — kept
    df(4L -> vec(0.0), 5L -> vec(2.5))
      .coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.semanticDedupSink(
      Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
      "vec_id", "embedding", mus, store, "sdidx", "sdout",
      checkpoint = tmpDir("sd_ckpt"), tauSq = 0L)
    q.awaitTermination(120000)
    val survivors = store.iterateChain("sdout.1", columns = Seq("vec_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(1L, 3L, 5L),
      s"exact dup drops in-batch (2) and vs history (4); got $survivors")
    assert(store.iterateChain("sdidx.1").count() == 3,
      "the semantic index holds KEPT rows' assignments only")
    // the streaming result equals the batch twin applied sequentially
    val h0 = graft.ops.KMeans.assignTo(
      df(1L -> vec(0.0), 3L -> vec(2.0)), "vec_id", "embedding", mus)
    val twin = graft.ops.SemDeDup.incremental(
      df(4L -> vec(0.0), 5L -> vec(2.5)), h0, mus,
      "vec_id", "embedding", tauSq = 0L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(twin == Map(4L -> false, 5L -> true))
  }

  test("semanticDedupSink: crash leaving an orphan COMPACTION replays to the identical index") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("rssdc_src")
    def vec(x: Double) = Seq.fill(4)(x)
    def df(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val mus = graft.ops.KMeans.fit(df(10L -> vec(0.0), 11L -> vec(2.0)),
      "vec_id", "embedding", k = 2, iters = 0)
    // batch 0: 1,2 exact dups (cluster 0) — 1 keeps; 3 in the far cluster
    df(1L -> vec(0.0), 2L -> vec(0.0), 3L -> vec(2.0))
      .coalesce(1).write.mode("append").parquet(dir)
    // batch 1 (the crashed-then-replayed one): 4 dups history survivor 1;
    // 5 lands in cluster 1 beyond tau — kept
    df(4L -> vec(0.0), 5L -> vec(2.5))
      .coalesce(1).write.mode("append").parquet(dir)
    def runSink(store: SnapshotStore, ckpt: String): Unit =
      Streams.semanticDedupSink(
        Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
        "vec_id", "embedding", mus, store, "sdidx", "sdout",
        checkpoint = ckpt, tauSq = 0L,
        compactEvery = Some(1)).awaitTermination(120000)
    // A: uninterrupted; B: crash AFTER batch 1's snapshots AND the
    // sdidx.1-c compaction landed but BEFORE the engine committed — the
    // replay must overwrite the orphan compaction, not double-chain it
    val storeA = new SnapshotStore(s, tmpDir("rssdc_store_a"))
    runSink(storeA, tmpDir("rssdc_ckpt_a"))
    val storeB = new SnapshotStore(s, tmpDir("rssdc_store_b"))
    val ckptB = tmpDir("rssdc_ckpt_b")
    runSink(storeB, ckptB)
    dropCommit(ckptB, 1)
    runSink(storeB, ckptB)
    assert(storeB.list() == storeA.list(),
      s"replay must re-land chains + compaction: ${storeB.list()} vs ${storeA.list()}")
    for (n <- storeA.list()) {
      assert(storeB.get(n).meta.previous == storeA.get(n).meta.previous, n)
      assert(storeB.get(n).meta.lines == storeA.get(n).meta.lines, n)
    }
    // survivor chain identical to the uninterrupted run
    val survB = storeB.iterateChain("sdout.1", columns = Seq("vec_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survB == Seq(1L, 3L, 5L),
      s"replayed survivors must give the uninterrupted answer: $survB")
    // frozen-centroid assignment index: compacted tip holds exactly the
    // kept rows' assignments, identical (cluster, dist, q) in both runs
    def idx(st: SnapshotStore) = st.iterateChain("sdidx.1-c")
      .select("vec_id", "cluster", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(idx(storeB) == idx(storeA))
    assert(idx(storeB).map(_._1) == Seq(1L, 3L, 5L),
      "index holds KEPT rows only after replay")
  }

  test("lineDedupSink: crash-and-restart replays against the committed index tip") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("rsld_src")
    Seq((1L, "keep me\nboiler"), (2L, "boiler\nmine too"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, "boiler\nfresh line"), (4L, "all new\n\nall new"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    def runSink(store: SnapshotStore, ckpt: String): Unit =
      Streams.lineDedupSink(Streams.eventStream(s, dir), "doc_id", "text",
        store, "ldidx", "ldout", checkpoint = ckpt,
        compactEvery = Some(1)).awaitTermination(120000)
    val storeA = new SnapshotStore(s, tmpDir("rsld_store_a"))
    runSink(storeA, tmpDir("rsld_ckpt_a"))
    val storeB = new SnapshotStore(s, tmpDir("rsld_store_b"))
    val ckptB = tmpDir("rsld_ckpt_b")
    runSink(storeB, ckptB)
    dropCommit(ckptB, 1)
    runSink(storeB, ckptB)
    assert(storeB.list() == storeA.list(),
      s"replay must re-land both chains: ${storeB.list()} vs ${storeA.list()}")
    for (n <- storeA.list()) {
      assert(storeB.get(n).meta.previous == storeA.get(n).meta.previous, n)
      assert(storeB.get(n).meta.lines == storeA.get(n).meta.lines, n)
    }
    val out = storeB.iterateChain("ldout.1", columns = Seq("doc_id", "text_dedup"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(out == Seq((1L, "keep me\nboiler"), (2L, "mine too"),
      (3L, "fresh line"), (4L, "all new\n")),
      s"replayed dedup must give the uninterrupted answer: $out")
    assert(storeB.iterateChain("ldidx.1-c").count() == 5,
      "compacted index holds each kept line's hash exactly once after replay")
  }

  test("trendingSink: closed windows rank top-k into chained snapshots") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("trend_src")
    val store = new SnapshotStore(s, tmpDir("trend_store"))
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // batch 0: window [00:00,00:10) — a:2, b:1, c:1
    Seq((ts(1), "a"), (ts(2), "a"), (ts(3), "b"), (ts(4), "c"))
      .toDF("ts", "event_type").coalesce(1).write.mode("append").parquet(dir)
    // batch 1: advances max event time to 00:40 (watermark still behind A)
    Seq((java.sql.Timestamp.valueOf("2024-01-01 00:40:00"), "x"))
      .toDF("ts", "event_type").coalesce(1).write.mode("append").parquet(dir)
    // batch 2: watermark = 00:40 - 15min = 00:25 > 00:10 — window A closes
    Seq((java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "y"))
      .toDF("ts", "event_type").coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.trendingSink(
      Streams.eventStream(s, dir), "ts", "event_type",
      store, "trend", checkpoint = tmpDir("trend_ckpt"),
      windowLen = "10 minutes", watermark = "15 minutes", k = 2)
    q.awaitTermination(120000)
    val tips = store.list().filter(_.startsWith("trend.")).sorted
    assert(tips.nonEmpty, "at least one closed-window snapshot")
    val rows = store.iterateChain(tips.last)
      .select("window_start", "rank", "n", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(x => (x._1.getTime, x._2)).toSeq
    // only window A has closed (later windows are still inside the
    // watermark horizon at end-of-stream); k=2 keeps a then the c/b tie
    // broken by the struct order (item desc)
    assert(rows == Seq(
      (ts(0), 1L, 2L, "a"),
      (ts(0), 2L, 1L, "c")), s"unexpected trending rows: $rows")
  }

  test("heavyHittersSink: cumulative MG summary folds forward across batches") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("hh_src")
    val store = new SnapshotStore(s, tmpDir("hh_store"))
    // three daily batches; "hot" and "warm" are cross-batch heavy hitters
    val b0 = Seq.fill(30)("hot") ++ (1 to 10).flatMap(i => Seq.fill(2)(s"f$i"))
    val b1 = Seq.fill(25)("hot") ++ Seq.fill(20)("warm") ++
      (11 to 20).flatMap(i => Seq.fill(2)(s"f$i"))
    val b2 = Seq.fill(25)("warm") ++ (21 to 30).flatMap(i => Seq.fill(2)(s"f$i"))
    Seq(b0, b1, b2).foreach { b =>
      Seq(("g", b.mkString(" "))).toDF("grp", "text")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val schema = s.read.parquet(dir).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val k = 8
    val q = Streams.heavyHittersSink(stream, "text", "grp", store, "hh",
      checkpoint = tmpDir("hh_ckpt"), k = k)
    q.awaitTermination(120000)
    val tips = store.list().filter(_.startsWith("hh.")).sorted
    assert(tips.size == 3, s"one cumulative summary per micro-batch: $tips")
    val got = store.readResolved(tips.last)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got.size <= k, s"summary must stay within k entries: $got")
    val all = b0 ++ b1 ++ b2
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val eps = all.size.toLong / (k + 1)
    for (t <- exact.keys) {
      if (exact(t) > eps)
        assert(got.contains(t), s"cross-batch heavy hitter $t missing from tip")
      got.get(t).foreach { est =>
        assert(est <= exact(t), s"$t: est $est exceeds true ${exact(t)}")
        assert(exact(t) - est <= eps, s"$t: est $est under by more than $eps")
      }
    }
    // each snapshot is the summary AT that batch (history, not union):
    // batch 0's tip must not know "warm" yet
    val s0 = store.readResolved(tips.head)
      .collect().map(r => r.getString(1)).toSet
    assert(s0.contains("hot") && !s0.contains("warm"),
      s"first summary reflects only batch 0: $s0")
  }

  /** Put a completed checkpoint into the exact on-disk state of a crash
    * that hit AFTER the foreachBatch body ran (snapshots written,
    * compaction done, urd recorded) but BEFORE the engine committed the
    * batch: the offsets entry for `batchId` exists, its commit marker does
    * not. On restart Spark replays that batch with the same batchId and
    * the same file list — the path a long-running production ingest hits
    * on every crash.
    */
  private def dropCommit(checkpoint: String, batchId: Long): Unit = {
    val p = java.nio.file.Paths.get(checkpoint, "commits", batchId.toString)
    assert(java.nio.file.Files.deleteIfExists(p),
      s"expected a commit marker to delete at $p")
    // also drop the local-FS checksum sibling — a real crash wrote neither
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(checkpoint, "commits", s".$batchId.crc"))
  }

  test("chainSink: crash between snapshot write and checkpoint commit replays idempotently") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("rs_src")
    // 3 files → batches 0,1,2 at maxFilesPerTrigger=1; compactEvery=2
    // fires at batch 2, so the crashed attempt leaves BOTH an uncommitted
    // chain link (ev.2) and an uncommitted compaction snapshot (ev.2-c)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(dir)
    Seq((3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(dir)
    Seq((4L, "d"), (5L, "e")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(dir)

    def runSink(store: SnapshotStore, urd: graft.jobs.Urd, ckpt: String): Unit =
      Streams.chainSink(Streams.eventStream(s, dir), store, "ev",
        urd = Some((urd, "stream/ev")), checkpoint = ckpt,
        compactEvery = Some(2)).awaitTermination(120000)

    // baseline: one uninterrupted run
    val storeA = new SnapshotStore(s, tmpDir("rs_store_a"))
    val urdA = new graft.jobs.Urd(tmpDir("rs_urd_a") + "/urd.log")
    runSink(storeA, urdA, tmpDir("rs_ckpt_a"))

    // crashed twin: full run, then un-commit the last batch and restart
    // (fresh sink closure — the ChainTip must recover from the store)
    val storeB = new SnapshotStore(s, tmpDir("rs_store_b"))
    val urdB = new graft.jobs.Urd(tmpDir("rs_urd_b") + "/urd.log")
    val ckptB = tmpDir("rs_ckpt_b")
    runSink(storeB, urdB, ckptB)
    dropCommit(ckptB, 2)
    runSink(storeB, urdB, ckptB)

    assert(storeB.list() == storeA.list(),
      s"replay must re-land, not duplicate: ${storeB.list()} vs ${storeA.list()}")
    for (n <- storeA.list()) {
      assert(storeB.get(n).meta.previous == storeA.get(n).meta.previous,
        s"$n: chain link differs after replay")
      assert(storeB.get(n).meta.lines == storeA.get(n).meta.lines,
        s"$n: row count differs after replay")
    }
    // the replayed batch chained to its true predecessor, NOT to its own
    // crashed output, and the re-run compaction re-based the chain
    assert(storeB.get("ev.2").meta.previous.contains("ev.1"))
    assert(storeB.get("ev.2-c").meta.previous.isEmpty)
    val ids = storeB.iterateChain("ev.2-c").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L),
      s"tip chain must hold the input exactly once after replay: $ids")
    // urd: the crashed attempt already recorded batch 2 — the replay must
    // tolerate the existing entry, and the timeline must equal the baseline
    assert(urdB.timestamps("stream/ev") == urdA.timestamps("stream/ev"),
      "replay must not duplicate or drop urd timeline entries")
    assert(urdB.latest("stream/ev").map(_.joblist) ==
      urdA.latest("stream/ev").map(_.joblist))
  }

  test("nearDupDedupSink: crash-and-restart replays dedup against the true history") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("rsnd_src")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    // batch 0: doc 2 near-dups doc 1; batch 1: doc 3 near-dups HISTORY,
    // doc 4 fresh. The crash un-commits batch 1, so its replay must dedup
    // doc 3 against the committed history (ndidx.0) — not against the
    // crashed attempt's own uncommitted index (ndidx.1), which prevFor
    // must exclude, or doc 3 would also match ITSELF and still drop, but
    // the index chain would gain a duplicate link.
    Seq((1L, base), (2L, base + " extra")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, base + " bonus"),
        (4L, "completely different words with no shared trigrams at all here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)

    def runSink(store: SnapshotStore, ckpt: String): Unit =
      Streams.nearDupDedupSink(Streams.eventStream(s, dir), "doc_id", "text",
        store, "ndidx", "ndout", checkpoint = ckpt,
        n = 3, k = 16, bands = 8, threshold = 0.5).awaitTermination(120000)

    val storeA = new SnapshotStore(s, tmpDir("rsnd_store_a"))
    runSink(storeA, tmpDir("rsnd_ckpt_a"))

    val storeB = new SnapshotStore(s, tmpDir("rsnd_store_b"))
    val ckptB = tmpDir("rsnd_ckpt_b")
    runSink(storeB, ckptB)
    dropCommit(ckptB, 1)
    runSink(storeB, ckptB)

    assert(storeB.list() == storeA.list(),
      s"replay must re-land both chains: ${storeB.list()} vs ${storeA.list()}")
    for (n <- storeA.list()) {
      assert(storeB.get(n).meta.previous == storeA.get(n).meta.previous, n)
      assert(storeB.get(n).meta.lines == storeA.get(n).meta.lines, n)
    }
    val survivors = storeB.iterateChain("ndout.1", columns = Seq("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(1L, 4L),
      s"replayed dedup must give the uninterrupted answer: $survivors")
    assert(storeB.iterateChain("ndidx.1").count() == 4,
      "index chain holds each doc's sketch exactly once after replay")
  }

  test("nearDupDedupSink: a failure between its two writes replays to the uninterrupted pair") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ndfail_src")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    // the same two batches as the crash-and-restart test above
    Seq((1L, base), (2L, base + " extra")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    Seq((3L, base + " bonus"),
        (4L, "completely different words with no shared trigrams at all here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)

    def runSink(store: SnapshotStore, ckpt: String): Unit =
      Streams.nearDupDedupSink(Streams.eventStream(s, dir), "doc_id", "text",
        store, "ndidx", "ndout", checkpoint = ckpt,
        n = 3, k = 16, bands = 8, threshold = 0.5).awaitTermination(120000)
    // Dataset caches are named; the localCheckpoint RDDs inside
    // incrementalMinhash are not, and are not the sink's to release
    def namedCached(): Set[Int] = s.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if rdd.name != null => id }.toSet

    val storeA = new SnapshotStore(s, tmpDir("ndfail_store_a"))
    runSink(storeA, tmpDir("ndfail_ckpt_a"))

    // a plain file where batch 1's index snapshot directory would go:
    // batch 1 lands ndout.1, then its ndidx.1 write throws
    val rootB = tmpDir("ndfail_store_b")
    val blocker = java.nio.file.Paths.get(rootB, "ndidx.1")
    java.nio.file.Files.write(blocker, Array[Byte](1))
    val storeB = new SnapshotStore(s, rootB)
    val ckptB = tmpDir("ndfail_ckpt_b")
    val cachedBefore = namedCached()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      runSink(storeB, ckptB))
    assert(storeB.exists("ndout.1"))
    assert(!storeB.exists("ndidx.1"))
    assert(namedCached() -- cachedBefore == Set(),
      "a failed batch must release the frames it persisted")

    java.nio.file.Files.delete(blocker)
    runSink(storeB, ckptB)
    assert(storeB.list() == storeA.list(),
      s"replay must land the uninterrupted pair: ${storeB.list()} vs ${storeA.list()}")
    for (n <- storeA.list()) {
      assert(storeB.get(n).meta.previous == storeA.get(n).meta.previous, n)
      assert(storeB.get(n).meta.lines == storeA.get(n).meta.lines, n)
    }
    def rows(st: SnapshotStore, tip: String) =
      st.iterateChain(tip).collect().map(_.toString).sorted.toSeq
    for (tip <- Seq("ndout.1", "ndidx.1"))
      assert(rows(storeB, tip) == rows(storeA, tip), s"$tip chain rows differ")
  }

  test("compactEvery below 1 is rejected before any query starts, on every sink that takes it") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ce0_src")
    Seq((1L, "a b c", Seq(1.0))).toDF("id", "text", "vec")
      .coalesce(1).write.mode("append").parquet(dir)
    val store = new SnapshotStore(s, tmpDir("ce0_store"))
    val ckpt = tmpDir("ce0_ckpt")
    def stream = Streams.eventStream(s, dir)
    val zero = Some(0)
    val sinks: Seq[(String, () => Any)] = Seq(
      "chainSink" -> (() => Streams.chainSink(stream, store, "c",
        checkpoint = ckpt, compactEvery = zero)),
      "mediaAnnotateSink" -> (() => Streams.mediaAnnotateSink(stream, "id",
        "text", store, "m", ckpt, compactEvery = zero)),
      "bm25IndexSink" -> (() => Streams.bm25IndexSink(stream, "id", "text",
        store, "b", ckpt, compactEvery = zero)),
      "nearDupDedupSink" -> (() => Streams.nearDupDedupSink(stream, "id",
        "text", store, "ni", "no", ckpt, compactEvery = zero)),
      "lineDedupSink" -> (() => Streams.lineDedupSink(stream, "id", "text",
        store, "li", "lo", ckpt, compactEvery = zero)),
      "semanticDedupSink" -> (() => Streams.semanticDedupSink(stream, "id",
        "vec", Array(Array(0L)), store, "si", "so", ckpt, tauSq = 0L,
        compactEvery = zero)))
    for ((name, start) <- sinks) {
      val e = intercept[IllegalArgumentException](start())
      assert(e.getMessage.contains("compactEvery must be >= 1, got 0"), name)
    }
    assert(s.streams.active.isEmpty, "no query may start")
    assert(store.list().isEmpty)
    assert(new java.io.File(ckpt).list().isEmpty, "no checkpoint may be written")
  }

  test("semanticDedupSink: crash-and-restart replays against the committed index tip") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("rssd_src")
    def vec(x: Double) = Seq.fill(4)(x)
    def df(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val mus = graft.ops.KMeans.fit(df(10L -> vec(0.0), 11L -> vec(2.0)),
      "vec_id", "embedding", k = 2, iters = 0)
    // batch 0: 2 dups 1; batch 1: 4 dups HISTORY survivor 1, 5 fresh. The
    // crash un-commits batch 1; its replay must drop 4 against the
    // COMMITTED sdidx.0 (prevFor excludes the crashed attempt's own
    // sdidx.1 — which holds survivor 5, so a self-match would NOT change
    // the answer here; what the assertions pin is the chain shape: no
    // duplicate links, no orphan, same tips as the uninterrupted twin).
    df(1L -> vec(0.0), 2L -> vec(0.0), 3L -> vec(2.0))
      .coalesce(1).write.mode("append").parquet(dir)
    df(4L -> vec(0.0), 5L -> vec(2.5))
      .coalesce(1).write.mode("append").parquet(dir)

    def runSink(store: SnapshotStore, ckpt: String): Unit =
      Streams.semanticDedupSink(Streams.eventStream(s, dir),
        "vec_id", "embedding", mus, store, "sdidx", "sdout",
        checkpoint = ckpt, tauSq = 0L).awaitTermination(120000)

    val storeA = new SnapshotStore(s, tmpDir("rssd_store_a"))
    runSink(storeA, tmpDir("rssd_ckpt_a"))

    val storeB = new SnapshotStore(s, tmpDir("rssd_store_b"))
    val ckptB = tmpDir("rssd_ckpt_b")
    runSink(storeB, ckptB)
    dropCommit(ckptB, 1)
    runSink(storeB, ckptB)

    assert(storeB.list() == storeA.list(),
      s"replay must re-land both chains: ${storeB.list()} vs ${storeA.list()}")
    for (n <- storeA.list()) {
      assert(storeB.get(n).meta.previous == storeA.get(n).meta.previous, n)
      assert(storeB.get(n).meta.lines == storeA.get(n).meta.lines, n)
    }
    val survivors = storeB.iterateChain("sdout.1", columns = Seq("vec_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == Seq(1L, 3L, 5L),
      s"replayed dedup must give the uninterrupted answer: $survivors")
    assert(storeB.iterateChain("sdidx.1").count() == 3,
      "index chain holds each KEPT row's assignment exactly once after replay")
  }

  test("heavyHittersSink: crash-and-restart re-merges against the committed tip, not its own partial") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("rshh_src")
    // batch 0 establishes a summary; batch 1 merges into it. The crash
    // un-commits batch 1: its replay must merge batch 1's tokens with the
    // COMMITTED hh.0 summary (prevFor excludes the crashed attempt's own
    // hh.1), or "hot" would double-count history through the partial merge.
    val b0 = Seq.fill(30)("hot") ++ (1 to 10).map(i => s"f$i")
    val b1 = Seq.fill(20)("hot") ++ Seq.fill(25)("warm") ++ (11 to 20).map(i => s"f$i")
    Seq(b0, b1).foreach { b =>
      Seq(("g", b.mkString(" "))).toDF("grp", "text")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    def runSink(store: SnapshotStore, ckpt: String): Unit = {
      val schema = s.read.parquet(dir).schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      Streams.heavyHittersSink(stream, "text", "grp", store, "hh",
        checkpoint = ckpt, k = 8).awaitTermination(120000)
    }
    val storeA = new SnapshotStore(s, tmpDir("rshh_store_a"))
    runSink(storeA, tmpDir("rshh_ckpt_a"))
    val storeB = new SnapshotStore(s, tmpDir("rshh_store_b"))
    val ckptB = tmpDir("rshh_ckpt_b")
    runSink(storeB, ckptB)
    dropCommit(ckptB, 1)
    runSink(storeB, ckptB)
    assert(storeB.list() == storeA.list())
    // the replayed cumulative summary is value-identical to the baseline's
    def tip(st: SnapshotStore) = st.readResolved("hh.1")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(tip(storeB) == tip(storeA),
      "replayed merge must equal the uninterrupted merge exactly")
    // and the estimate for the cross-batch heavy hitter did not double-count
    val hot = tip(storeB).collectFirst { case ("g", "hot", n) => n }.get
    assert(hot <= 50L, s"replay double-merged history: est $hot > true 50")
  }

  test("trendingSink: crash-and-restart re-lands the closed window's top-k once") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("rstr_src")
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    Seq((t(1), "a"), (t(2), "a"), (t(3), "b"), (t(4), "c"))
      .toDF("ts", "event_type").coalesce(1).write.mode("append").parquet(dir)
    Seq((java.sql.Timestamp.valueOf("2024-01-01 00:40:00"), "x"))
      .toDF("ts", "event_type").coalesce(1).write.mode("append").parquet(dir)
    Seq((java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "y"))
      .toDF("ts", "event_type").coalesce(1).write.mode("append").parquet(dir)
    def runSink(store: SnapshotStore, ckpt: String): Unit =
      Streams.trendingSink(Streams.eventStream(s, dir), "ts", "event_type",
        store, "trend", checkpoint = ckpt,
        windowLen = "10 minutes", watermark = "15 minutes", k = 2)
        .awaitTermination(120000)
    val storeA = new SnapshotStore(s, tmpDir("rstr_store_a"))
    runSink(storeA, tmpDir("rstr_ckpt_a"))
    val storeB = new SnapshotStore(s, tmpDir("rstr_store_b"))
    val ckptB = tmpDir("rstr_ckpt_b")
    runSink(storeB, ckptB)
    // un-commit the batch that emitted the closed window's ranking
    val last = storeB.list().filter(_.startsWith("trend.")).sorted.last
      .stripPrefix("trend.").toLong
    dropCommit(ckptB, last)
    runSink(storeB, ckptB)
    assert(storeB.list() == storeA.list(),
      "replay must not duplicate the closed-window snapshot")
    def rows(st: SnapshotStore) = st
      .iterateChain(st.list().filter(_.startsWith("trend.")).sorted.last)
      .select("window_start", "rank", "n", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(x => (x._1.getTime, x._2)).toSeq
    assert(rows(storeB) == rows(storeA),
      "replayed ranking must equal the uninterrupted run")
  }

  test("corpus-prep stack (scrub + quality gate + dedup) runs unmodified in a stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.functions.{TextFunctions => T}
    val in = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = in.toDF.toDF("ts", "doc_id", "text")
    // the same scan-side Column operators the batch pipeline uses — PII
    // scrub, audit counts, token gate — compose onto the stream before the
    // stateful dedup; nothing is reimplemented for streaming
    val prepped = Streams.dedupStream(
      docs.withColumn("clean", T.scrubPii(col("text")))
          .withColumn("n_emails", T.emailCount(col("text")))
          .filter(T.tokenCount(col("text")) >= 3),
      "ts", "clean", watermark = "10 minutes")
    val q = prepped.writeStream.format("memory").queryName("prep")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (ts(1), 1L, "reach me at bob@ex.org today ok"),
        (ts(2), 2L, "tiny doc"),                               // gated: < 3 tokens
        (ts(3), 3L, "reach me at alice@ex.org today ok"))      // dup of 1 after scrub
      q.processAllAvailable()
      val got = s.sql("SELECT doc_id, clean, n_emails FROM prep ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      // doc 3 deduped against doc 1 BECAUSE scrubbing ran first (their raw
      // texts differ only in the scrubbed address); doc 2 failed the gate
      assert(got == Seq((1L, "reach me at <EMAIL> today ok", 1L)))
    } finally q.stop()
  }

  test("qualityAnnotateSink: per-batch entropy/quality == batch annotation") {
    val s = spark
    val dir = tmpDir("qa_src")
    val store = new SnapshotStore(s, tmpDir("qa_store"))
    val all = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text")
    all.filter(col("doc_id") < 250)
      .coalesce(1).write.mode("append").parquet(dir)
    all.filter(col("doc_id") >= 250)
      .coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.qualityAnnotateSink(
      Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
      "doc_id", "text", store, "qa", checkpoint = tmpDir("qa_ckpt"))
    q.awaitTermination(120000)
    import graft.functions.{TextFunctions => T}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_cp", "ent_char_fp", "n_tok", "ent_tok_fp")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    val streamed = rows(store.iterateChain("qa.1"))
    val ce = T.charEntropyFp(col("text"))
    val te = T.tokenEntropyFp(col("text"))
    val batch = rows(all.select(col("doc_id"),
      ce.getField("n").as("n_cp"),
      ce.getField("ent_fp").as("ent_char_fp"),
      te.getField("n").as("n_tok"),
      te.getField("ent_fp").as("ent_tok_fp")))
    assert(streamed.size == batch.size && streamed == batch,
      "streamed entropy annotation must equal the batch scan")
  }

  test("mediaAnnotateSink: streamed decode annotation == the batch scan") {
    val s = spark
    val dir = tmpDir("ma_src")
    val store = new SnapshotStore(s, tmpDir("ma_store"))
    val M = graft.ops.Multimodal
    // thirteen-way blob mix: PNG, gray baseline JPEG, MJPEG AVI, PCM WAV,
    // composited GIF animation (r16 lane), float32 WAV (r16 lane),
    // IMA-ADPCM WAV, Microsoft ADPCM WAV, lossless SOF3 JPEG, sub-byte
    // palette PNG, 12-bit SOF1 JPEG (r17 lanes), arithmetic-coded SOF9
    // color JPEG (r18 lane — the QM decoder through the SAME decodeJpeg
    // surface) and unstructured bytes (the bad-blob lane) — every
    // decoder the batch scans carry, exercised in one stream
    val all = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 130)
      .withColumn("blob",
        when(col("doc_id") % 13 === 0, M.makePng(lit(12), lit(7)))
          .when(col("doc_id") % 13 === 1, M.makeGrayJpeg(col("doc_id")))
          .when(col("doc_id") % 13 === 2, M.makeAviMjpeg(col("doc_id")))
          .when(col("doc_id") % 13 === 3, M.makeWav(lit(8000), lit(50)))
          .when(col("doc_id") % 13 === 4, M.makeGifAnim(col("doc_id")))
          .when(col("doc_id") % 13 === 5, M.makeWavFloat(col("doc_id")))
          .when(col("doc_id") % 13 === 6, M.makeWavAdpcmMono(col("doc_id")))
          .when(col("doc_id") % 13 === 7, M.makeWavMsAdpcmStereo(col("doc_id")))
          .when(col("doc_id") % 13 === 8, M.makeJpegLosslessG16(col("doc_id")))
          .when(col("doc_id") % 13 === 9, M.makePng4Palette(col("doc_id")))
          .when(col("doc_id") % 13 === 10, M.makeJpeg12(col("doc_id")))
          .when(col("doc_id") % 13 === 11, M.makeJpegArithColor(col("doc_id")))
          .otherwise(encode(col("text"), "utf-8")))
      .select("doc_id", "blob")
    all.filter(col("doc_id") < 65).coalesce(1).write.mode("append").parquet(dir)
    all.filter(col("doc_id") >= 65).coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.mediaAnnotateSink(
      Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
      "doc_id", "blob", store, "ma", checkpoint = tmpDir("ma_ckpt"))
    q.awaitTermination(120000)
    val cols = Seq("doc_id", "media_type", "width", "height", "px_sum",
      "n_frames", "n_samples", "pcm_sum", "pcm_bits", "content_md5")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => cols.indices.map(i => String.valueOf(r.get(i))).mkString("|"))
        .sorted.toSeq
    val streamed = rows(store.iterateChain("ma.1"))
    val img = M.decodeImage(col("blob")); val jpg = M.decodeJpeg(col("blob"))
    val jls = M.jpegLosslessFeatures(col("blob"))
    val j12 = M.jpeg12Features(col("blob"))
    val vid = M.videoFrameStats(col("blob"), 2); val vm = M.videoMeta(col("blob"))
    val wav = M.audioFeatures(col("blob"))
    val gs = M.gifAnimStats(col("blob"))
    val gifPx = aggregate(gs.getField("frames"), lit(0L),
      (acc, f) => acc + f.getField("px_sum"))
    val batch = rows(all.select(col("doc_id"),
      M.mediaType(col("blob")).as("media_type"),
      coalesce(img.getField("width"), jpg.getField("width"),
        jls.getField("width"), j12.getField("width"),
        vm.getField("width"), gs.getField("width"))
        .cast("long").as("width"),
      coalesce(img.getField("height"), jpg.getField("height"),
        jls.getField("height"), j12.getField("height"),
        vm.getField("height"), gs.getField("height"))
        .cast("long").as("height"),
      coalesce(img.getField("px_sum"), jpg.getField("px_sum"),
        jls.getField("px_sum"), j12.getField("px_sum"),
        vid.getField("px_sum"), gifPx).as("px_sum"),
      coalesce(vm.getField("n_frames").cast("long"),
        size(gs.getField("frames")).cast("long")).as("n_frames"),
      wav.getField("n_samples").as("n_samples"),
      wav.getField("pcm_sum").as("pcm_sum"),
      wav.getField("pcm_bits").cast("long").as("pcm_bits"),
      md5(col("blob")).as("content_md5")))
    assert(streamed.size == 130 && streamed == batch,
      "streamed media annotation must equal the batch scan")
    // every lane genuinely hit: 10 docs per blob kind (130 ids mod 13),
    // and the new lanes genuinely LAND (GIF frame counts + composited
    // sums, float / IMA / MS-ADPCM sample counts + storage depths,
    // lossless / 12-bit / arithmetic JPEG full-precision stats,
    // sub-byte palette rasters), not just type-tag
    def kinds(tag: String) = streamed.count(_.contains(tag))
    assert(kinds("image/png") == 20 && kinds("image/jpeg") == 40 &&
      kinds("video/avi") == 10 && kinds("audio/wav") == 40 &&
      kinds("image/gif") == 10 && kinds("unknown") == 10)
    val gifRows = store.iterateChain("ma.1")
      .filter(col("media_type") === "image/gif")
    assert(gifRows.filter(col("n_frames").isNull ||
      col("px_sum").isNull || col("width").isNull).count() == 0,
      "GIF compositing stats must land through the shared columns")
    val byBits = store.iterateChain("ma.1")
      .filter(col("media_type") === "audio/wav")
      .groupBy(col("pcm_bits")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(byBits == Map(16L -> 10L, 32L -> 10L, 4L -> 20L),
      s"PCM16 + float32 + IMA/MS-ADPCM lanes must all land: $byBits")
    // the full-precision JPEG lanes (lossless SOF3, 12-bit SOF1,
    // arithmetic SOF9) and the sub-byte palette lane land REAL stats
    // through the shared image columns (width/height/px_sum)
    for (lane <- Seq(8, 9, 10, 11)) {
      val rows = store.iterateChain("ma.1")
        .filter(col("doc_id") % 13 === lane)
      assert(rows.count() == 10 && rows.filter(col("width").isNull ||
        col("height").isNull || col("px_sum").isNull).count() == 0,
        s"lane $lane stats must land through the shared columns")
    }
    assert(store.iterateChain("ma.1")
      .filter(col("media_type") === "audio/wav" &&
        (col("n_samples").isNull || col("pcm_sum").isNull))
      .count() == 0, "every WAV lane decodes, none fall to null")
  }

  test("mediaAnnotateSink: 32-batch compaction-under-load keeps tip reads bounded") {
    // the blob-heavy instance of the compaction-under-load law: a media
    // ingest runs for thousands of micro-batches, and whoever tails the
    // annotation chain must read O(compactEvery) snapshots, not
    // O(batches). Four decoder lanes rotate through the batches so the
    // compacted bases carry every annotation shape.
    val s = spark
    val dir = tmpDir("mal_src")
    val store = new SnapshotStore(s, tmpDir("mal_store"))
    val M = graft.ops.Multimodal
    val batches = 32
    val every = 4
    def blobbed(ids: org.apache.spark.sql.DataFrame) = ids
      .withColumn("blob",
        when(col("doc_id") % 4 === 0, M.makePng(lit(12), lit(7)))
          .when(col("doc_id") % 4 === 1, M.makeGrayJpeg(col("doc_id")))
          .when(col("doc_id") % 4 === 2, M.makeAviMjpeg(col("doc_id")))
          .otherwise(M.makeWav(lit(8000), lit(50))))
      .select("doc_id", "blob")
    val all = blobbed(s.range(4L * batches).toDF("doc_id"))
    for (b <- 0 until batches)
      all.filter(col("doc_id") >= 4L * b && col("doc_id") < 4L * (b + 1))
        .coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.mediaAnnotateSink(
      Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
      "doc_id", "blob", store, "mal", checkpoint = tmpDir("mal_ckpt"),
      compactEvery = Some(every))
    q.awaitTermination(600000)
    // no annotation lost across 8 compactions, and the streamed rows
    // match the batch scan THROUGH every compacted base
    val tip = store.list().filter(_.startsWith("mal."))
      .maxBy(n => n.split("\\.").last.takeWhile(_.isDigit).toInt)
    val chain = store.iterateChain(tip)
    assert(chain.count() == 4L * batches, "annotations lost under load")
    val img = M.decodeImage(col("blob")); val jpg = M.decodeJpeg(col("blob"))
    val vid = M.videoFrameStats(col("blob"), 2); val vm = M.videoMeta(col("blob"))
    val wav = M.audioFeatures(col("blob"))
    val want = all.select(col("doc_id"),
        M.mediaType(col("blob")).as("media_type"),
        coalesce(img.getField("px_sum"), jpg.getField("px_sum"),
          vid.getField("px_sum")).as("px_sum"),
        wav.getField("pcm_sum").as("pcm_sum"))
      .collect().map(r => (0 to 3).map(i => String.valueOf(r.get(i))).mkString("|"))
      .sorted.toSeq
    val got = chain.select(col("doc_id"), col("media_type"),
        col("px_sum"), col("pcm_sum"))
      .collect().map(r => (0 to 3).map(i => String.valueOf(r.get(i))).mkString("|"))
      .sorted.toSeq
    assert(got == want, "streamed annotations diverge from the batch scan")
    // the load claim: tip depth and every historical batch's read depth
    // stay bounded by compactEvery + 1
    assert(store.chain(tip).size <= every + 1,
      s"tip chain depth ${store.chain(tip).size} — compaction not bounding")
    (1 until batches).foreach { b =>
      val d = store.chain(s"mal.$b").size
      assert(d <= every + 1, s"batch $b read a depth-$d chain")
    }
    val leaves = chain.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves <= every + 1, s"tip read scans $leaves relations")
  }

  test("nbScoreSink: frozen-model streaming scores == batch scoring") {
    val s = spark
    val dir = tmpDir("nbs_src")
    val store = new SnapshotStore(s, tmpDir("nbs_store"))
    val all = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val (cnt, classes) = graft.ops.ModelFilter.naiveBayesModel(
      all, "text", "lang", col("doc_id") % 2 === 0)
    val scoreDocs = all.filter(col("doc_id") % 2 =!= 0)
      .select("doc_id", "text", "lang")
    // two files -> two micro-batches against the same frozen model
    scoreDocs.filter(col("doc_id") < 250)
      .coalesce(1).write.mode("append").parquet(dir)
    scoreDocs.filter(col("doc_id") >= 250)
      .coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.nbScoreSink(
      Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
      "doc_id", "text", "lang", cnt, classes, store, "nbs",
      checkpoint = tmpDir("nbs_ckpt"))
    q.awaitTermination(120000)
    val cols = Seq("doc_id", "pred_lang", "score_fp", "lang", "correct")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3), r.getBoolean(4))).sortBy(_._1).toSeq
    val streamed = rows(store.iterateChain("nbs.1"))
    val batch = rows(graft.ops.ModelFilter.naiveBayes(
      all, "doc_id", "text", "lang", col("doc_id") % 2 === 0))
    assert(streamed.size == 250)
    assert(streamed == batch,
      "per-batch frozen-model scoring must equal one-plan batch scoring")
  }

  private val bm25Qs = Seq(
    "qa" -> "fast hash join", "qb" -> "stream window batch agg")

  private def bm25Rows(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "rank", "id", "score_fp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("bm25IndexSink: chained per-batch indexes score == index-at-once") {
    val s = spark
    val dir = tmpDir("bm_src")
    val store = new SnapshotStore(s, tmpDir("bm_store"))
    val all = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text")
    all.filter(col("doc_id") < 250)
      .coalesce(1).write.mode("append").parquet(dir)
    all.filter(col("doc_id") >= 250)
      .coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.bm25IndexSink(
      Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
      "doc_id", "text", store, "bms", checkpoint = tmpDir("bm_ckpt"))
    q.awaitTermination(120000)
    // two micro-batches -> chains of length 2 per component
    assert(store.get("bms-post.1").meta.previous.contains("bms-post.0"))
    val streamed = bm25Rows(graft.ops.Bm25.scoreIndexed(
      store.iterateChain("bms-post.1"), store.iterateChain("bms-dict.1"),
      store.iterateChain("bms-stats.1"), bm25Qs, k = 10))
    val batch = bm25Rows(
      graft.ops.Bm25.bm25(all, "doc_id", "text", bm25Qs, k = 10))
    assert(streamed.size == 20)
    assert(streamed == batch,
      "scoring the chain tips must equal batch-indexing all ingested docs")
  }

  test("bm25IndexSink: crash between write and commit replays to identical index chains") {
    val s = spark
    val dir = tmpDir("bmr_src")
    val all = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text")
    // 3 files → batches 0,1,2; compactEvery=2 fires at batch 2, so the
    // crashed attempt leaves uncommitted chain links AND compactions for
    // all three components
    all.filter(col("doc_id") < 150)
      .coalesce(1).write.mode("append").parquet(dir)
    all.filter(col("doc_id") >= 150 && col("doc_id") < 300)
      .coalesce(1).write.mode("append").parquet(dir)
    all.filter(col("doc_id") >= 300)
      .coalesce(1).write.mode("append").parquet(dir)
    def runSink(store: SnapshotStore, ckpt: String): Unit =
      Streams.bm25IndexSink(Streams.eventStream(s, dir), "doc_id", "text",
        store, "bms", checkpoint = ckpt, compactEvery = Some(2))
        .awaitTermination(120000)
    val storeA = new SnapshotStore(s, tmpDir("bmr_store_a"))
    runSink(storeA, tmpDir("bmr_ckpt_a"))
    val storeB = new SnapshotStore(s, tmpDir("bmr_store_b"))
    val ckptB = tmpDir("bmr_ckpt_b")
    runSink(storeB, ckptB)
    dropCommit(ckptB, 2)
    runSink(storeB, ckptB)
    assert(storeB.list() == storeA.list(),
      s"replay must re-land, not duplicate: ${storeB.list()}")
    for (n <- storeA.list()) {
      assert(storeB.get(n).meta.previous == storeA.get(n).meta.previous,
        s"$n: chain link differs after replay")
      assert(storeB.get(n).meta.lines == storeA.get(n).meta.lines,
        s"$n: row count differs after replay")
    }
    // the replayed batch chained to its true predecessor, not to its own
    // crashed output; scoring the compacted tips equals index-at-once
    assert(storeB.get("bms-post.2").meta.previous.contains("bms-post.1"))
    val streamed = bm25Rows(graft.ops.Bm25.scoreIndexed(
      storeB.iterateChain("bms-post.2-c"),
      storeB.iterateChain("bms-dict.2-c"),
      storeB.iterateChain("bms-stats.2-c"), bm25Qs, k = 10))
    val batch = bm25Rows(
      graft.ops.Bm25.bm25(all, "doc_id", "text", bm25Qs, k = 10))
    assert(streamed == batch,
      "post-replay compacted tips must score identically to index-at-once")
  }

  test("pqEncodeSink: frozen-codebook chain store searches == batch encode") {
    val s = spark
    val dir = tmpDir("pqs_src")
    val store = new SnapshotStore(s, tmpDir("pqs_store"))
    val all = s.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select("vec_id", "embedding")
    val books = graft.ops.Pq.train(all, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 8, iters = 2)
    val n = all.count()
    all.filter(col("vec_id") < n / 2)
      .coalesce(1).write.mode("append").parquet(dir)
    all.filter(col("vec_id") >= n / 2)
      .coalesce(1).write.mode("append").parquet(dir)
    val q = Streams.pqEncodeSink(
      Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
      "vec_id", "embedding", books, store, "pqs",
      checkpoint = tmpDir("pqs_ckpt"))
    q.awaitTermination(120000)
    assert(store.get("pqs.1").meta.previous.contains("pqs.0"))
    val queries = all.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "nid", "adist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val streamed = rows(graft.ops.Pq.searchEncoded(
      store.iterateChain("pqs.1"), books, queries, "vec_id", "embedding",
      k = 10))
    val batch = rows(graft.ops.Pq.searchEncoded(
      graft.ops.Pq.encode(all, "vec_id", "embedding", books), books,
      queries, "vec_id", "embedding", k = 10))
    assert(streamed.size == 50)
    assert(streamed == batch,
      "searching the streamed chain store must equal batch encoding")
  }

  private def tokRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_tokens", "n_pieces", "pieces_fp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  private def tokBatch(all: org.apache.spark.sql.DataFrame,
                       pieces: org.apache.spark.sql.Column =>
                         org.apache.spark.sql.Column) =
    tokRows(all.select(col("doc_id"), pieces(col("text")).as("ps"))
      .select(col("doc_id"),
        size(col("ps")).cast("long").as("n_tokens"),
        size(flatten(col("ps"))).cast("long").as("n_pieces"),
        xxhash64(to_json(col("ps"))).as("pieces_fp")))

  test("tokenizerEncodeSink: persisted frozen models, streamed == batch") {
    val s = spark
    val all = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text")
    // all three tokenizers ride the same sink; every model goes through
    // its SNAPSHOT (modelToDf -> modelFromDf) first — the persisted-model
    // story end-to-end
    val wp = graft.ops.WordPiece.modelFromDf(graft.ops.WordPiece.modelToDf(
      s, graft.ops.WordPiece.train(all, "text", numMerges = 60)))
    val uni = graft.ops.Unigram.modelFromDf(graft.ops.Unigram.modelToDf(
      s, graft.ops.Unigram.train(all, "text", vocabSize = 150)))
    val bpe = graft.ops.Bpe.modelFromDf(graft.ops.Bpe.modelToDf(
      s, graft.ops.Bpe.train(all, "text", numMerges = 60)))
    val lanes = Seq[(String, org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column)](
      "wp" -> (c => graft.ops.WordPiece.pieces(c, wp)),
      "uni" -> (c => graft.ops.Unigram.pieces(c, uni)),
      "bpe" -> (c => graft.ops.Bpe.pieces(c, bpe)))
    for ((name, pieces) <- lanes) {
      val dir = tmpDir(s"tok_${name}_src")
      val store = new SnapshotStore(s, tmpDir(s"tok_${name}_store"))
      all.filter(col("doc_id") < 250)
        .coalesce(1).write.mode("append").parquet(dir)
      all.filter(col("doc_id") >= 250)
        .coalesce(1).write.mode("append").parquet(dir)
      Streams.tokenizerEncodeSink(
        Streams.eventStream(s, dir, maxFilesPerTrigger = 1),
        "doc_id", "text", pieces, store, s"tok$name",
        checkpoint = tmpDir(s"tok_${name}_ckpt"))
        .awaitTermination(120000)
      assert(store.get(s"tok$name.1").meta.previous
        .contains(s"tok$name.0"), s"$name: chain link")
      val streamed = tokRows(store.iterateChain(s"tok$name.1"))
      assert(streamed.size == 500, s"$name: row count")
      assert(streamed == tokBatch(all, pieces),
        s"$name: streamed encode must equal batch encode")
    }
  }

  test("tokenizerEncodeSink: crash between write and commit replays identically") {
    val s = spark
    val all = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text")
    val wp = graft.ops.WordPiece.train(all, "text", numMerges = 60)
    val pieces = (c: org.apache.spark.sql.Column) =>
      graft.ops.WordPiece.pieces(c, wp)
    val dir = tmpDir("tokr_src")
    all.filter(col("doc_id") < 250)
      .coalesce(1).write.mode("append").parquet(dir)
    all.filter(col("doc_id") >= 250)
      .coalesce(1).write.mode("append").parquet(dir)
    def runSink(store: SnapshotStore, ckpt: String): Unit =
      Streams.tokenizerEncodeSink(Streams.eventStream(s, dir,
        maxFilesPerTrigger = 1), "doc_id", "text", pieces, store, "tokr",
        checkpoint = ckpt).awaitTermination(120000)
    val storeA = new SnapshotStore(s, tmpDir("tokr_store_a"))
    runSink(storeA, tmpDir("tokr_ckpt_a"))
    val storeB = new SnapshotStore(s, tmpDir("tokr_store_b"))
    val ckptB = tmpDir("tokr_ckpt_b")
    runSink(storeB, ckptB)
    dropCommit(ckptB, 1)
    runSink(storeB, ckptB)
    assert(storeB.list() == storeA.list(),
      s"replay must re-land, not duplicate: ${storeB.list()}")
    assert(storeB.get("tokr.1").meta.previous.contains("tokr.0"),
      "replayed batch must chain to its true predecessor")
    assert(tokRows(storeB.iterateChain("tokr.1")) ==
      tokRows(storeA.iterateChain("tokr.1")),
      "post-replay chain must encode identically")
  }
}
