package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TrainingPipeline
import TestSpark.spark

/** Corpus-prep operators: token-window chunking coverage, hash-split
  * determinism/proportions, seeded-shuffle permutation semantics.
  */
class TrainingPipelineSpec extends AnyFunSuite {

  test("chunk covers every token; last chunk short; empty docs dropped") {
    val s = spark
    import s.implicits._
    val doc = Seq(
      (1L, (1 to 11).map(i => s"t$i").mkString(" ")),
      (2L, "   "),
      (3L, "solo")).toDF("id", "text")
    val got = TrainingPipeline.chunk(doc, "id", "text", chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    // 11 tokens, chunk 4 / stride 3 → starts 0,3,6,9
    val d1 = got.filter(_._1 == 1L)
    assert(d1.size == 4)
    assert(d1.head._3 == "t1 t2 t3 t4")
    assert(d1.last._3 == "t10 t11" && d1.last._4 == 2L)
    assert(!got.exists(_._1 == 2L), "whitespace-only docs produce no chunks")
    assert(got.filter(_._1 == 3L).map(_._3) == Seq("solo"))
    intercept[IllegalArgumentException] {
      TrainingPipeline.chunk(doc, "id", "text", chunkSize = 4, stride = 5)
    }
  }

  test("splitByHash: deterministic, complete, roughly proportional") {
    val s = spark
    import s.implicits._
    val ids = (1L to 2000L).toDF("id")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a = TrainingPipeline.splitByHash(ids, "id", "z", fr)
    val counts = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000, "every row lands in exactly one split")
    assert(counts("train") > 1450 && counts("train") < 1750)
    val b = TrainingPipeline.splitByHash(ids, "id", "z", fr)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0,
      "assignment is a pure function of (salt, id)")
    intercept[IllegalArgumentException] {
      TrainingPipeline.splitByHash(ids, "id", "z", Seq("a" -> 0.5))
    }
  }

  test("split and chunk are scan-side: no Exchange in the plan") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d e")).toDF("id", "text")
    val splitPlan = TrainingPipeline.splitByHash(docs, "id", "z",
      Seq("train" -> 0.9, "test" -> 0.1)).queryExecution.executedPlan.toString
    assert(!splitPlan.contains("Exchange"), s"split must not shuffle:\n$splitPlan")
    val chunkPlan = TrainingPipeline.chunk(docs, "id", "text", 4, 3)
      .queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"), s"chunk must not shuffle:\n$chunkPlan")
  }

  test("sampleStratified: per-stratum rates, deterministic, monotone") {
    val s = spark
    import s.implicits._
    val rows = (1L to 3000L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    def sample(rates: Seq[(String, Double)], default: Double) =
      TrainingPipeline.sampleStratified(rows, "id", "src", "q", rates, default)
    val a = sample(Seq("src0" -> 0.9, "src1" -> 0.2), 0.05)
    val counts = a.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 per stratum; hash buckets are near-uniform
    assert(counts("src0") > 820 && counts("src0") < 980)
    assert(counts("src1") > 130 && counts("src1") < 270)
    assert(counts.getOrElse("src2", 0L) < 110)
    val b = sample(Seq("src0" -> 0.9, "src1" -> 0.2), 0.05)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0,
      "pure function of (salt, id, rates)")
    // monotone: lowering a rate only removes rows
    val lower = sample(Seq("src0" -> 0.5, "src1" -> 0.2), 0.05)
    assert(lower.except(a).count() == 0, "lower rate ⇒ subset")
    // rate 1.0 keeps everything, rate 0 keeps nothing
    val all = sample(Seq.empty, 1.0)
    assert(all.count() == 3000)
    assert(sample(Seq.empty, 0.0).count() == 0)
    intercept[IllegalArgumentException] { sample(Seq("src0" -> 1.5), 0.1) }
    // scan-side: no shuffle
    val plan = a.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sample must not shuffle:\n$plan")
  }

  test("decontaminate: containment against the benchmark shingle union") {
    val s = spark
    import s.implicits._
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("id", "text")
    val train = Seq(
      // full overlap: same text ⇒ containment 1.0
      (1L, "alpha beta gamma delta"),
      // 2 trigrams, 1 shared (alpha beta gamma) ⇒ 0.5
      (2L, "alpha beta gamma other"),
      // no shared trigrams
      (3L, "one two three four")).toDF("id", "text")
    val got = graft.ops.TrainingPipeline
      .decontaminate(train, bench, "id", "text", n = 3, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got(1L) == ((2L, 2L, 1.0, true)))
    assert(got(2L) == ((2L, 1L, 0.5, true)))
    assert(got(3L) == ((2L, 0L, 0.0, false)))
    // the benchmark side must be broadcast — the corpus never shuffles
    // before the per-doc partial agg
    val plan = graft.ops.TrainingPipeline
      .decontaminate(train, bench, "id", "text", n = 3, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark set must broadcast:\n$plan")
  }

  test("contaminationReport: per-benchmark summary, integer bp threshold") {
    val s = spark
    import s.implicits._
    val bench = Seq(
      (100L, "A", "alpha beta gamma delta"),
      (101L, "B", "one two three four"),
      // zero-overlap benchmark: must still report a (clean) row
      (102L, "C", "qq rr ss tt uu")).toDF("id", "bench", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta"),   // A: 2/2 -> 10000 bp
      (2L, "alpha beta gamma other"),   // A: 1/2 -> 5000 bp (== threshold)
      (3L, "one two three nope"),       // B: 1/2 -> 5000 bp
      (4L, "zz yy xx ww")).toDF("id", "text") // no overlap anywhere
    val got = graft.ops.TrainingPipeline
      .contaminationReport(train, bench, "id", "text", "bench",
        n = 3, threshold = 0.5)
      .collect().map(r => r.getAs[String]("bench") -> ((
        r.getAs[Long]("n_docs_overlapping"),
        r.getAs[Long]("n_docs_contaminated"),
        r.getAs[Long]("max_cont_bp"),
        r.getAs[Long]("total_overlap_shingles"),
        r.getAs[Long]("n_docs_checked"),
        r.getAs[Long]("contaminated_bp")))).toMap
    assert(got.keySet == Set("A", "B", "C"))
    // bp >= 5000 is exactly ov/ns >= 0.5: doc 2 (exactly half) counts
    assert(got("A") == ((2L, 2L, 10000L, 3L, 4L, 5000L)))
    assert(got("B") == ((1L, 1L, 5000L, 1L, 4L, 2500L)))
    // clean benchmark ≠ unevaluated benchmark: all-zero row, not absence
    assert(got("C") == ((0L, 0L, 0L, 0L, 4L, 0L)))
    // empty corpus: every benchmark reports zeros, no division by zero
    val empty = graft.ops.TrainingPipeline
      .contaminationReport(train.limit(0), bench, "id", "text", "bench",
        n = 3, threshold = 0.5)
      .collect().map(r => r.getAs[String]("bench") ->
        ((r.getAs[Long]("n_docs_checked"),
          r.getAs[Long]("contaminated_bp")))).toMap
    assert(empty.keySet == Set("A", "B", "C"))
    assert(empty.values.toSet == Set((0L, 0L)))
    intercept[IllegalArgumentException] {
      graft.ops.TrainingPipeline.contaminationReport(
        train, bench, "id", "text", "bench", threshold = 0.33333)
    }
  }

  test("decontaminateBloom: identical to exact decontaminate; bloom probe at the scan") {
    val s = spark
    import s.implicits._
    // larger fixture than the exact test: 200 docs, every 10th quoting the
    // bench text — enough shingle volume that a false-positive-cancelling
    // bug (rather than fpp luck) would surface
    val bench = Seq((1000L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val train = (1L to 200L).map { i =>
      if (i % 10 == 0) (i, "alpha beta gamma delta epsilon zeta")
      else if (i % 10 == 5) (i, s"alpha beta gamma word$i other tokens here")
      else (i, s"doc $i has completely unrelated content number ${i * 7}")
    }.toDF("id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))
    val exact = TrainingPipeline
      .decontaminate(train, bench, "id", "text", n = 3, threshold = 0.5)
      .collect().map(key).toSet
    val viaBloom = TrainingPipeline
      .decontaminateBloom(train, bench, "id", "text", n = 3, threshold = 0.5)
      .collect().map(key).toSet
    assert(viaBloom == exact, "bloom prescreen must not change results")
    val plan = TrainingPipeline
      .decontaminateBloom(train, bench, "id", "text", n = 3, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom membership probe missing from the plan:\n$plan")
    // the denominators must come from size(shingles) scan-side — no
    // Generate (explode) feeding the totals aggregate; the only Generate
    // allowed on the corpus side is the probe pass
    val generates = "Generate".r.findAllIn(plan).size
    assert(generates <= 2, // corpus probe pass + bench build/verify side
      s"expected no explode on the totals path:\n$plan")
  }

  test("sampleN: exact count, deterministic, bounded-heap plan") {
    val s = spark
    import s.implicits._
    val docs = (1L to 1000L).toDF("id")
    def draw(salt: String) = TrainingPipeline.sampleN(docs, "id", salt, 100)
      .collect().map(_.getLong(0)).toSet
    assert(draw("a").size == 100, "exactly n rows")
    assert(draw("a") == draw("a"), "same salt ⇒ same sample")
    assert(draw("a") != draw("b"), "different salt ⇒ different sample")
    val plan = TrainingPipeline.sampleN(docs, "id", "a", 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"fixed-N sample must be a bounded-heap top-n, not a global sort:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no range exchange for a top-n:\n$plan")
  }

  test("heavyHitters: MG guarantees hold against exact counts across partitions") {
    val s = spark
    import s.implicits._
    // zipf-ish: token t_i appears 600/i times, i=1..60, in two groups,
    // shuffled across 13 partitions so merges actually exercise the
    // (k+1)-th-largest reduction
    val rows = for {
      g <- Seq("g1", "g2"); i <- 1 to 60; _ <- 1 to (600 / i)
    } yield (g, s"t$i")
    val docs = scala.util.Random.shuffle(rows)
      .map { case (g, t) => (g, t) }.toDF("grp", "text").repartition(13)
    val k = 16
    val got = TrainingPipeline.heavyHitters(docs, "text", "grp", k)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = rows.count(_._1 == "g1").toLong // groups are same-sized
    val eps = n / (k + 1)
    for (g <- Seq("g1", "g2"); i <- 1 to 60) {
      val t = s"t$i"; val truth = exact((g, t))
      if (truth > eps)
        assert(got.contains((g, t)), s"frequent token $g/$t (n=$truth > $eps) missing")
      got.get((g, t)).foreach { est =>
        assert(est <= truth, s"$g/$t: est $est exceeds true $truth")
        assert(truth - est <= eps, s"$g/$t: est $est more than $eps below $truth")
      }
    }
    val plan = TrainingPipeline.heavyHitters(docs, "text", "grp", k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_misra_gries"),
      s"MG must partial-aggregate map-side:\n$plan")
  }

  test("heavyHittersChecked: guarantee gate emits clean rows on hostile skew") {
    val s = spark
    import s.implicits._
    val rows = for {
      g <- Seq("g1", "g2"); i <- 1 to 60; _ <- 1 to (600 / i)
    } yield (g, s"t$i")
    val docs = scala.util.Random.shuffle(rows)
      .toDF("grp", "text").repartition(13)
    val got = TrainingPipeline.heavyHittersChecked(docs, "text", "grp", 16)
      .collect()
    assert(got.length == 2, "one row per group")
    got.foreach { r =>
      assert(r.getLong(1) > 0, "exact token total present")
      assert(r.getLong(2) == 0L, s"over-count violations: $r")
      assert(r.getLong(3) == 0L, s"n/(k+1) bound violations: $r")
      assert(r.getLong(4) == 0L, s"missed heavy tokens: $r")
      assert(r.getBoolean(5), s"summary exceeded k entries: $r")
    }
  }

  test("sampleWeighted: heavy docs dominate, deterministic, bounded-heap plan") {
    val s = spark
    import s.implicits._
    // 100 docs at weight 64 among 900 at weight 1 — a 50-doc draw should
    // be nearly all heavy (deterministic given the salt, so pinned loosely)
    val docs = (1L to 1000L)
      .map(i => (i, if (i <= 100) 64L else 1L)).toDF("id", "wt")
    def draw(salt: String) =
      TrainingPipeline.sampleWeighted(docs, "id", "wt", salt, 50)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    val a = draw("w1")
    assert(a.length == 50, "exactly n rows")
    assert(a.toSeq == draw("w1").toSeq, "same salt ⇒ same draw")
    val heavy = a.count(_._2 == 64L)
    assert(heavy >= 40, s"weight-64 docs should dominate the draw: $heavy/50")
    val plan = TrainingPipeline.sampleWeighted(docs, "id", "wt", "w1", 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample must be a bounded-heap top-n:\n$plan")
  }

  test("sampleNPerGroup: exact per-group counts via the heap, no window") {
    val s = spark
    import s.implicits._
    // skewed strata: 900 'big', 90 'mid', 10 'tiny' (< nPer)
    val docs = (1L to 1000L).map { i =>
      (i, if (i <= 900) "big" else if (i <= 990) "mid" else "tiny")
    }.toDF("id", "grp")
    val got = TrainingPipeline.sampleNPerGroup(docs, "id", "grp", "x", 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySize = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySize == Map("big" -> 50, "mid" -> 50, "tiny" -> 10),
      s"per-group counts wrong: $bySize")
    assert(got.filter(_._1 == "big").map(_._2).sorted.toSeq == (1L to 50L),
      "ranks are 1..n per group")
    val plan = TrainingPipeline.sampleNPerGroup(docs, "id", "grp", "x", 50)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && plan.contains("collect_top_k"),
      s"per-group sample must reduce via bounded heaps:\n$plan")
  }

  test("shuffled: seeded deterministic permutation") {
    val s = spark
    import s.implicits._
    val ids = (1L to 100L).toDF("id")
    def order(seed: String) =
      TrainingPipeline.shuffled(ids, "id", seed).collect().map(_.getLong(0)).toSeq
    assert(order("s") == order("s"), "same seed ⇒ same order")
    assert(order("s") != order("t"), "different seed ⇒ different order")
    assert(order("s").sorted == (1L to 100L), "a permutation, not a sample")
  }

  test("packSequences: contiguous tape, capacity cuts, partition-count independent") {
    val s = spark
    import s.implicits._
    val docs = (1L to 200L).map(i => (i, 1 + (i * 7) % 40)).toDF("id", "len")
    def run(parts: Int) =
      TrainingPipeline.packSequences(docs.repartition(parts), "id", "len", "pk", 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toSeq
    val got = run(4)
    // identical result regardless of input partitioning (total order key)
    assert(got == run(1) && got == run(13))
    // replay the tape in md5 order: offsets must be exactly contiguous
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long) = md.digest(s"pk$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val inOrder = got.sortBy(t => (key(t._1), t._1))
    var off = 0L
    for ((id, n, packId, packOff, spanned) <- inOrder) {
      assert(packId == off / 64 && packOff == off % 64, s"doc $id misplaced")
      assert(spanned == (off + math.max(n, 1) - 1) / 64 - off / 64 + 1)
      off += n
    }
    assert(off == got.map(_._2).sum)
    // straddlers exist at this capacity and are flagged
    assert(got.exists(_._5 > 1))
  }

  test("stripHtml: elements dropped with content, tags stripped, entities amp-last") {
    val s = spark
    import s.implicits._
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "<p>Hello   <b>world</b></p>"),
      (2L, "a &amp;lt; b"), // amp decodes LAST: stays a literal "&lt;"
      (3L, "<script type=\"x\">var s = '<p>none</p>';</script>kept"),
      (4L, "x&nbsp;&#39;y&#39; <style>.c > i { }</style>&quot;z&quot;"),
      (5L, "<div\nclass='m'>multi\nline</div>"),
      (6L, "<SCRIPT>var hidden = 1;</SCRIPT>visible <Style>.x{}</Style>too")).toDF("id", "t")
    val got = df.select(col("id"), T.stripHtml(col("t")).as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got(0) == ((1L, "Hello world")))
    assert(got(1) == ((2L, "a &lt; b")))
    assert(got(2) == ((3L, "kept")), "script CONTENT must go, not just tags")
    assert(got(3) == ((4L, "x 'y' \"z\"")))
    assert(got(4) == ((5L, "multi line")), "attributes may span lines")
    assert(got(5) == ((6L, "visible too")),
      "HTML tag names are case-insensitive — uppercase elements drop content too")
  }

  test("normalizeUnicode: NFC/NFD/NFKC forms, identity fast path, bad form rejected") {
    val s = spark
    import s.implicits._
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.functions.col
    val composed = "Caf\u00E9"
    val decomposed = "Cafe\u0301"
    val df = Seq(
      (1L, decomposed),   // decomposed -> composes
      (2L, composed),     // already NFC -> untouched
      (3L, "\u212B"),     // Angstrom sign -> U+00C5
      (4L, "\uFB01le")    // fi ligature: NFC keeps, NFKC folds to "fi"
    ).toDF("id", "t")
    def run(form: String) = df
      .select(col("id"), T.normalizeUnicode(col("t"), form).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val nfc = run("NFC")
    assert(nfc(0)._2 == composed && nfc(1)._2 == composed)
    assert(nfc(2)._2 == "\u00C5")
    assert(nfc(3)._2 == "\uFB01le", "NFC preserves compatibility characters")
    assert(run("NFKC")(3)._2 == "file", "NFKC folds the ligature")
    assert(run("NFD")(1)._2 == decomposed, "NFD decomposes")
    intercept[IllegalArgumentException] {
      graft.expr.UnicodeNormalize("NFX")
    }
  }

  test("c4KeptLines: punctuation + word-count gates, per line") {
    val s = spark
    import s.implicits._
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.functions.col
    val doc = Seq((1L, Seq(
      "A proper sentence with enough words.",   // kept
      "home | about | contact",                 // no terminal punctuation
      "Ok then.",                               // < 5 words
      "She said the word \"stop\"",             // ends with quote, 5 words
      "Is this a real question?").mkString("\n"))).toDF("id", "t")
    val got = doc.select(T.c4KeptLines(col("t"), 5).as("k"))
      .collect().head.getSeq[String](0)
    assert(got == Seq(
      "A proper sentence with enough words.",
      "She said the word \"stop\"",
      "Is this a real question?"))
  }

  test("gopherFlags: rule boundaries and the pass conjunction") {
    val s = spark
    import s.implicits._
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.functions.col
    // 50 natural words incl. >=2 gopher stopwords, mean len in [3,10]
    val good = (("the quick brown fox jumps over the lazy dog and " * 5).trim)
    val short49 = good.split(" ").take(49).mkString(" ")
    val bullets = good + "\n• one\n• two\n• three\n• four\n• five\n• six"
    val symbols = good + " " + ("# " * 20).trim
    val rows = Seq((1L, good), (2L, short49), (3L, bullets), (4L, symbols))
      .toDF("id", "t")
      .select(col("id"), T.gopherFlags(col("t")).as("g"))
      .select(col("id"), col("g.n_words"), col("g.bullet_line_frac"),
        col("g.symbol_ratio"), col("g.passes"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(rows(1L)._1 == 50L && rows(1L)._4, "50 natural words pass")
    assert(rows(2L)._1 == 49L && !rows(2L)._4, "49 words fail the word-count gate")
    assert(rows(3L)._2 > 0.1 && !rows(3L)._4, "bullet-heavy doc fails")
    assert(rows(4L)._3 > 0.1 && !rows(4L)._4, "symbol-heavy doc fails")
    // empty doc: no NaNs, no NULL pass — just false
    val empty = Seq((9L, "")).toDF("id", "t")
      .select(T.gopherFlags(col("t")).as("g")).select(col("g.passes"))
      .collect()(0).getBoolean(0)
    assert(!empty)
  }

  test("JSONL export/import: identity on hostile strings and nulls") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "plain"),
      (2L, "line\nbreak and \"quotes\" and \\backslash"),
      (3L, "unicode: åäö 中文 🙂 \u0001control"),
      (4L, null.asInstanceOf[String]),
      (5L, ""))
    val df = rows.toDF("id", "text")
    val path = TestSpark.tmpDir("jsonl_rt") + "/out"
    graft.ops.JsonlExport(df, path, slices = 2, gzip = true)
    val back = graft.ops.JsonlExport.read(s, path, df.schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // JSON has no null-vs-absent distinction on read for our purposes:
    // to_json DROPS null fields, so the reader yields null — identity holds
    assert(back == rows.toSet, s"round-trip mismatch: $back")
    // really sharded and gzipped
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName)
    assert(parts.length == 2 && parts.forall(_.endsWith(".gz")))
  }

  test("c4KeptLines: CRLF text behaves exactly like LF text") {
    val s = spark
    import s.implicits._
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.functions.col
    // with a bare \n split, "…words.\r" would keep its \r: Java's $
    // matches before the terminator (line passes), RE2's does not —
    // and the kept line would carry the stray \r byte
    val doc = Seq((1L, Seq(
      "A proper sentence with enough words.",
      "home | about | contact",
      "Another proper sentence with enough words!").mkString("\r\n"))).toDF("id", "t")
    val got = doc.select(T.c4KeptLines(col("t"), 5).as("k"))
      .collect().head.getSeq[String](0)
    assert(got == Seq(
      "A proper sentence with enough words.",
      "Another proper sentence with enough words!"),
      s"CRLF lines must be clean of \\r and gate identically, got $got")
  }

  test("scrubPii: placeholders, ordering, and non-PII left intact") {
    val s = spark
    import s.implicits._
    import graft.functions.{TextFunctions => T}
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "mail a.b+c@ex-1.org now"),
      (2L, "go to https://a.b/c?d=e&f=g then stop"),
      (3L, "call 555-123-4567 or 555-0199"),
      (4L, "plain text with no pii at all"),
      (5L, "x@y.io at https://ex.org/u?e=m@n.com 555-111-2222")).toDF("id", "t")
    val got = df.select(col("id"),
        T.scrubPii(col("t")).as("c"),
        T.emailCount(col("t")).as("ne"),
        T.urlCount(col("t")).as("nu"),
        T.phoneCount(col("t")).as("np"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got(0) == ((1L, "mail <EMAIL> now", 1L, 0L, 0L)))
    assert(got(1) == ((2L, "go to <URL> then stop", 0L, 1L, 0L)))
    assert(got(2) == ((3L, "call <PHONE> or <PHONE>", 0L, 0L, 2L)))
    assert(got(3) == ((4L, "plain text with no pii at all", 0L, 0L, 0L)))
    // email-before-URL ordering: the address inside the URL tail is
    // scrubbed first, splitting the URL into two placeholders' worth of
    // text — deterministic, and identical in the oracle's replay
    assert(got(4)._2 == "<EMAIL> at <URL> <PHONE>" || got(4)._2.contains("<EMAIL>"))
    assert(got(4)._3 == 2L && got(4)._5 == 1L)
  }

  test("incrementalExact: no text column crosses an exchange") {
    // asserted on the OPERATOR with parquet-like inputs (the dd_incremental
    // query's synthetic batch construction self-joins text to build its
    // plagiarism fixture — that join is test-data setup, not the ingest
    // path a production batch arrives through)
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.StringType
    val s = spark
    val docs = s.read.parquet(TestSpark.sfDir + "/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.ops.Dedup.incrementalExact(
        docs.limit(100), docs, "doc_id", "text")
        .queryExecution.executedPlan
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.nonEmpty)
      for (e <- exchanges; f <- e.child.schema.fields)
        assert(f.dataType != StringType,
          s"text column '${f.name}' would be shuffled — fingerprint must reduce scan-side")
    } finally s.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("vocabulary: tf/df counts, minDf filter, deterministic rank") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the cat ran"),
      (3L, "THE  dog\tran"), // normalization folds case + whitespace
      (4L, "unique")).toDF("id", "text")
    val got = TrainingPipeline.vocabulary(docs, "text", minDf = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the: tf 3 / df 3; cat tf 2 df 2; ran tf 2 df 2; sat/dog/unique df 1 → out
    assert(got.toSeq == Seq(("the", 3L, 3L, 1L), ("cat", 2L, 2L, 2L),
      ("ran", 2L, 2L, 3L)))
    val top1 = TrainingPipeline.vocabulary(docs, "text", minDf = 2, topK = 1)
      .collect().map(_.getString(0)).toSeq
    assert(top1 == Seq("the"), "topK truncates after the (tf desc, token) order")
    intercept[IllegalArgumentException] {
      TrainingPipeline.vocabulary(docs, "text", minDf = 0, topK = 10)
    }
  }

  test("vocabulary plans a two-level top-K, not a global sort") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("id", "text")
    val plan = TrainingPipeline.vocabulary(docs, "text", minDf = 1, topK = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"orderBy+limit must plan per-partition heaps, not a full sort:\n$plan")
  }

  test("tfidfKeywords: rational idf ranks doc-specific terms first") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "common common rare"),
      (2L, "common other"),
      (3L, "common other")).toDF("id", "text")
    val got = TrainingPipeline.tfidfKeywords(docs, "id", "text", topK = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(x => (x._1, x._2)).toSeq
    // doc 1: rare tf=1 df=1 → score 1*3/1=3; common tf=2 df=3 → 2*3/3=2
    assert(got(0) == ((1L, 1L, "rare", 1L, 1L, 3.0)))
    assert(got(1) == ((1L, 2L, "common", 2L, 3L, 2.0)))
    // docs 2/3: other tf=1 df=2 → 1.5 beats common 1*3/3=1
    assert(got(2) == ((2L, 1L, "other", 1L, 2L, 1.5)))
    assert(got(3) == ((2L, 2L, "common", 1L, 3L, 1.0)))
    assert(got.count(_._1 == 3L) == 2, "topK bounds every doc's rows")
  }

  test("incrementalMinhash equals the batch-restricted full LSH pair set") {
    val s = spark
    import org.apache.spark.sql.functions.col
    val docs = s.read.parquet(TestSpark.sfDir + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    def unordered(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      (math.min(a, b), math.max(a, b), r.getDouble(2))
    }.toSet
    val full = unordered(graft.ops.Dedup
      .minhashLsh(docs, "doc_id", "text", n = 3, k = 16, bands = 8, threshold = 0.3)
      .collect())
    val batchTouched = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    val inc = unordered(graft.ops.Dedup.incrementalMinhash(
      graft.ops.Dedup.minhashIndex(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", 3, 16),
      graft.ops.Dedup.minhashIndex(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", 3, 16),
      k = 16, bands = 8, threshold = 0.3).collect())
    assert(inc == batchTouched,
      "incremental dedup must find exactly the full-corpus pairs that touch the batch")
    assert(inc.nonEmpty, "fixture must actually exercise near-dup pairs")
    // a k mismatched against the prebuilt index must raise, not silently
    // degrade (short slices band-match everything; long ones halve recall)
    val idx16 = graft.ops.Dedup.minhashIndex(docs.limit(10), "doc_id", "text", 3, 16)
    val err = intercept[Exception] {
      graft.ops.Dedup.incrementalMinhash(idx16, idx16.limit(0),
        k = 32, bands = 8, threshold = 0.3).collect()
    }
    assert(err.getMessage != null)
    // a shingle-size mismatch between batch and history is invisible in
    // the hashes (identical schema, plausible values) — the recorded `n`
    // column must turn it into an error, not silently skewed jaccard
    val idxN4 = graft.ops.Dedup.minhashIndex(
      docs.filter(col("doc_id") % 5 =!= 0).limit(20), "doc_id", "text", 4, 16)
    val errN = intercept[Exception] {
      graft.ops.Dedup.incrementalMinhash(idx16, idxN4,
        k = 16, bands = 8, threshold = 0.3).collect()
    }
    assert(Option(errN.getMessage).exists(_.contains("shingle size mismatch")) ||
      Option(errN.getCause).flatMap(c => Option(c.getMessage))
        .exists(_.contains("shingle size mismatch")),
      s"expected a shingle-size mismatch error, got: $errN")
    // the guard must fire even when the mismatch yields ZERO band
    // collisions (the very symptom of a wrong n) — it wraps the sig
    // column the band explode always evaluates, not the verify-only hs
    val sd = spark
    import sd.implicits._
    val alien = (1 to 20).map(i => (100000L + i, s"zzqx$i wvut$i ppon$i"))
      .toDF("doc_id", "text")
    val idxAlien = graft.ops.Dedup.minhashIndex(alien, "doc_id", "text", 5, 16)
    val errZ = intercept[Exception] {
      graft.ops.Dedup.incrementalMinhash(idx16, idxAlien,
        k = 16, bands = 8, threshold = 0.3).collect()
    }
    assert(Option(errZ.getMessage).exists(_.contains("shingle size mismatch")) ||
      Option(errZ.getCause).flatMap(c => Option(c.getMessage))
        .exists(_.contains("shingle size mismatch")),
      s"zero-collision mismatch must still raise, got: $errZ")
  }

  test("corpusE2E: the text column never crosses an exchange") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val s = spark
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.queries.TextPack.corpusE2ELens(s, TestSpark.sfDir)
        .queryExecution.executedPlan
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.nonEmpty, "the pipeline must have id-keyed shuffles")
      for (e <- exchanges; f <- e.child.schema.fields)
        assert(f.name != "text",
          s"text would be shuffled — signals must reduce scan-side:\n$e")
    } finally s.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("capPerGroup: at most k per group, deterministic prefix draw, no window") {
    val s = spark
    import s.implicits._
    val rows = (1L to 999L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    def run(k: Int) = TrainingPipeline.capPerGroup(rows, "id", "g", "s", k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val a = run(50)
    val perGroup = a.groupBy(_._1).view.mapValues(_.sortBy(_._3)).toMap
    assert(perGroup.keySet == Set("g0", "g1", "g2"))
    assert(perGroup.values.forall(_.size == 50), "333 candidates cap to exactly k")
    assert(perGroup.values.forall(_.map(_._3).toSeq == (1L to 50L)),
      "ranks are contiguous draw positions")
    assert(run(50).sortBy(x => (x._1, x._3)).toSeq == a.sortBy(x => (x._1, x._3)).toSeq,
      "pure function of (salt, ids)")
    // prefix property: the k=20 draw is the first 20 of the k=50 draw
    val b = run(20).groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2)).toMap
    assert(b.forall { case (g, ids) => ids.sameElements(perGroup(g).take(20).map(_._2)) })
    // two-level reduce, not a per-group window funnel
    val plan = TrainingPipeline.capPerGroup(rows, "id", "g", "s", 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"cap must not plan a window:\n$plan")
    // null ids have no draw key and must not displace keyed rows
    val withNulls = Seq((Some(1L), "g"), (None, "g"), (Some(2L), "g"))
      .toDF("id", "g")
    val drawn = TrainingPipeline.capPerGroup(withNulls, "id", "g", "s", 2)
      .collect().map(r => r.getLong(1)).sorted.toSeq
    assert(drawn == Seq(1L, 2L), "unkeyable rows are excluded from the draw")
  }

  test("epochWeighted: floor copies + fractional by hash; zero weight drops") {
    val s = spark
    import s.implicits._
    val docs = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "source")
    def run() = TrainingPipeline.epochWeighted(docs, "id", "source", "t1",
      Seq("a" -> 2.5, "b" -> 0.0), defaultWeight = 0.0)
    val out = run().collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(!out.exists(_._2 == "b"), "weight-0 strata contribute nothing")
    val perDoc = out.filter(_._2 == "a").groupBy(_._1).view
      .mapValues(_.map(_._3).sorted.toVector)
    assert(perDoc.values.forall(cs => cs.sameElements(0L until cs.size.toLong)),
      "copy indices are contiguous from 0")
    assert(perDoc.values.forall(cs => cs.size == 2 || cs.size == 3),
      "weight 2.5 gives each doc 2 or 3 copies")
    val total = perDoc.values.map(_.size).sum
    assert(total > 420 && total < 580, s"expected ~500 copies of 200 docs, got $total")
    assert(run().collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.sameElements(out.sorted), "pure function of (salt, id, weights)")
  }

  test("dupSpans matches a brute-force reference on a random collision-heavy corpus") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    val n = 3
    val docs = (1L to 30L).map { i =>
      (i, Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val toks = docs.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toVector }.toMap
    val grams = for {
      (id, ts) <- toks.toSeq
      j <- 0 to ts.size - n
    } yield (ts.slice(j, j + n).mkString(" "), id, j)
    val owner = grams.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
    val expected = toks.map { case (id, ts) =>
      val ps = grams.filter(g => g._2 == id && owner(g._1) < id).map(_._3).sorted
      val covered = ps.flatMap(p => p until p + n).toSet
      val clean = ts.zipWithIndex.collect { case (t, i) if !covered(i) => t }
      (id, ts.size.toLong, ps.size.toLong, (ts.size - clean.size).toLong,
        clean.mkString(" "))
    }.toSeq.sortBy(_._1)
    val got = graft.ops.Dedup.dupSpans(docs.toDF("id", "text"), "id", "text", n = n)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(got == expected)
  }

  test("dupSpans: later copies of an earlier n-gram are scrubbed") {
    val s = spark
    import s.implicits._
    val passage = (1 to 12).map(i => s"p$i").mkString(" ") // 12 tokens
    val docs = Seq(
      (1L, s"intro $passage outro"),            // owner: keeps everything
      (2L, s"different lead $passage and tail"), // later: passage scrubbed
      (3L, "short doc under ten tokens"),        // <n tokens: no windows
      (4L, "fully original text that shares no ten gram with anything else"))
      .toDF("id", "text")
    val got = graft.ops.Dedup.dupSpans(docs, "id", "text", n = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    val d1 = got(0)
    assert(d1._3 == 0L && d1._4 == 0L, "min-id owner is never scrubbed")
    assert(d1._5 == s"intro $passage outro")
    val d2 = got(1)
    // doc 2's 12-token passage contains three 10-gram windows duplicated
    // from doc 1 (starts at p1, p2, p3) → union covers all 12 tokens
    assert(d2._2 == 16L && d2._3 == 3L && d2._4 == 12L)
    assert(d2._5 == "different lead and tail")
    assert(got(2) == ((3L, 5L, 0L, 0L, "short doc under ten tokens")))
    assert(got(3)._4 == 0L, "original text loses nothing")
  }

  test("lineDedup matches a brute-force reference on a repeat-heavy corpus") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val pool = Vector("alpha beta", "gamma", "delta epsilon zeta", "", "  ",
      "eta theta", "iota", "kappa lambda mu")
    val docs = (1L to 40L).map { i =>
      (i, Seq.fill(rnd.nextInt(8))(pool(rnd.nextInt(pool.size))).mkString("\n"))
    }
    val lines = docs.map { case (id, t) => id -> t.split("\n", -1).toVector }.toMap
    val occ = for {
      (id, ls) <- lines.toSeq; (l, p) <- ls.zipWithIndex if l.trim.nonEmpty
    } yield (l, id, p)
    val owner = occ.groupBy(_._1).map { case (l, xs) =>
      l -> xs.map(x => (x._2, x._3)).min }
    val expected = docs.map { case (id, t) =>
      val ls = lines(id)
      val dropped = ls.zipWithIndex
        .filter { case (l, p) => l.trim.nonEmpty && owner(l) != ((id, p)) }
        .map(_._2).toSet
      val kept = ls.zipWithIndex.collect { case (l, p) if !dropped(p) => l }
      (id, ls.size.toLong, dropped.size.toLong, kept.mkString("\n"))
    }.sortBy(_._1)
    val got = graft.ops.Dedup.lineDedup(docs.toDF("id", "text"), "id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(got == expected)
  }

  test("lineDedup: first (id, pos) occurrence owns; blanks exempt; docs can empty out") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "boiler\nunique one"),
      (2L, "boiler\n\nboiler\nunique two"), // both copies drop, blank stays
      (3L, "boiler"),                       // fully emptied
      (4L, ""))                             // empty text: one blank line, kept
      .toDF("id", "text")
    val got = graft.ops.Dedup.lineDedup(docs, "id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(got(0) == ((1L, 2L, 0L, "boiler\nunique one")))
    assert(got(1) == ((2L, 4L, 2L, "\nunique two")))
    assert(got(2) == ((3L, 1L, 1L, "")))
    assert(got(3) == ((4L, 1L, 0L, "")))
  }

  test("lineDedup: ids outside the packed-key range raise, not corrupt") {
    val s = spark
    import s.implicits._
    def msgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}\n${msgs(t.getCause)}"
    val bad = Seq((-1L, "x\nx")).toDF("id", "text")
    val e = intercept[Exception] {
      graft.ops.Dedup.lineDedup(bad, "id", "text").collect()
    }
    assert(msgs(e).contains("lineDedup"), s"want the op's own guard, got:\n${msgs(e)}")
  }

  test("incrementalLineDedup: history owns everywhere, batch dedupes among survivors") {
    val s = spark
    import s.implicits._
    val hist = Seq((100L, "old news\nweather")).toDF("id", "text")
    val idx = graft.ops.Dedup.lineIndex(hist, "text")
    val batch = Seq(
      (1L, "old news\nfresh take\nshared"), // history hit + 2 fresh
      (2L, "shared\nweather\n\nonly mine"), // batch-dup (doc 1 owns shared), history hit, blank
      (3L, "old news"))                     // fully emptied by history
      .toDF("id", "text")
    val got = graft.ops.Dedup.incrementalLineDedup(batch, idx, "id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1).toSeq
    assert(got(0) == ((1L, 3L, 1L, 0L, "fresh take\nshared")))
    assert(got(1) == ((2L, 4L, 1L, 1L, "\nonly mine")))
    assert(got(2) == ((3L, 1L, 1L, 0L, "")))
    // a line in history AND repeated in the batch drops everywhere: no
    // batch occurrence becomes a new owner of a historical line
    val b2 = Seq((1L, "weather"), (2L, "weather")).toDF("id", "text")
    val g2 = graft.ops.Dedup.incrementalLineDedup(b2, idx, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4))).sortBy(_._1)
    assert(g2.forall { case (_, nh, t) => nh == 1L && t == "" })
    // index contract is enforced
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.incrementalLineDedup(batch, hist, "id", "text")
    }
  }

  test("incrementalLineDedup: legacy hex-string index still matches history") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, explode, md5, split, trim}
    val hist = Seq((100L, "old news\nweather")).toDF("id", "text")
    // an index built before the BINARY(16) switch: hex STRING md5
    val legacyIdx = hist.select(explode(split(col("text"), "\n", -1)).as("line"))
      .filter(trim(col("line")) =!= "")
      .select(md5(col("line")).as("h")).distinct()
    val batch = Seq((1L, "old news\nfresh take")).toDF("id", "text")
    val got = graft.ops.Dedup.incrementalLineDedup(batch, legacyIdx, "id", "text")
      .collect().map(r => (r.getLong(2), r.getString(4)))
    assert(got.toSeq == Seq((1L, "fresh take")),
      "legacy string index must still drop historical lines, not silently match zero")
    // anything that is neither BINARY nor STRING rejects loudly
    val bogus = Seq(42L).toDF("h")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Dedup.incrementalLineDedup(batch, bogus, "id", "text")
    }
    assert(e.getMessage.contains("rebuild the index"))
  }

  test("incrementalLineDedup: empty index reduces to lineDedup") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val pool = Vector("p", "q r", "", "s t u", "v")
    val docs = (1L to 25L).map { i =>
      (i, Seq.fill(rnd.nextInt(6))(pool(rnd.nextInt(pool.size))).mkString("\n"))
    }.toDF("id", "text")
    val emptyIdx = graft.ops.Dedup.lineIndex(
      Seq.empty[(Long, String)].toDF("id", "text"), "text")
    val inc = graft.ops.Dedup.incrementalLineDedup(docs, emptyIdx, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2) + r.getLong(3),
        r.getString(4))).sortBy(_._1).toSeq
    val plain = graft.ops.Dedup.lineDedup(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(inc == plain)
  }

  test("lineDedup: ownership passes shuffle ids only; text crosses at most the fold-back") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val s = spark
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.ops.Dedup.lineDedup(
          graft.core.Tables.documents(s, TestSpark.sfDir), "doc_id", "text")
        .queryExecution.executedPlan
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.nonEmpty, "ownership requires a hash shuffle")
      val textCarrying = exchanges.filter(
        _.child.schema.fields.exists(f => f.name == "text" || f.name == "line"))
      assert(textCarrying.size <= 1,
        s"only the doc-keyed fold-back may move text, found ${textCarrying.size}:\n" +
          textCarrying.mkString("\n"))
    } finally s.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
