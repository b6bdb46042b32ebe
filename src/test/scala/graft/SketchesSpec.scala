package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.expr.MinHashConsts
import graft.functions.{SimilarityFunctions => S, TextFunctions => T}
import graft.ops.SimilaritySearch
import TestSpark.spark

/** Sketch expressions: the Spark-side values must equal an independent
  * Scala model of the same math (the DuckDB oracle replicates it a third
  * way in the correctness gate).
  */
class SketchesSpec extends AnyFunSuite {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h40(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 10), 16)

  private def h60(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)

  test("tokenHash40 equals the md5-prefix model") {
    val s = spark
    import s.implicits._
    val toks = Seq("hello", "world", "", "ümlaut")
    val got = toks.toDF("t").select(T.tokenHash40(col("t"))).collect()
      .map(_.getLong(0)).toSeq
    assert(got == toks.map(h40))
  }

  test("ShingleHash40 joins with the separator exactly like concat_ws") {
    val s = spark
    import s.implicits._
    // raw token arrays, bypassing the tokenizer: an empty leading token
    // must still get the separator (concat_ws puts it between non-null
    // elements even when one is empty); nulls are skipped without a sep
    val sep = "\u0001"
    def hashesOf(toks: Seq[String], n: Int): Seq[Long] =
      Seq(Tuple1(toks)).toDF("toks")
        .select(graft.expr.KernelCall.column(col("toks"),
          graft.expr.ShingleHashes(n)))
        .collect().head.getSeq[Long](0)
    assert(hashesOf(Seq("", "a"), 2) == Seq(h40(sep + "a")))
    assert(hashesOf(Seq("a", "b", "c"), 2) ==
      Seq(h40("a" + sep + "b"), h40("b" + sep + "c")))
    assert(hashesOf(Seq(null, "a", "b"), 3) == Seq(h40("a" + sep + "b")))
    // cross-check the concat_ws claim directly on the same arrays
    val ws = Seq(Tuple1(Seq("", "a"))).toDF("toks")
      .select(concat_ws(sep, col("toks"))).collect().head.getString(0)
    assert(ws == sep + "a")
  }

  test("minhash signature equals the per-slot model") {
    val s = spark
    import s.implicits._
    val shingles = Seq("the quick", "quick brown", "brown fox")
    val k = 16
    val got = Seq(shingles).toDF("sh")
      .select(S.minhashSignature(col("sh"), k)).collect()
      .head.getSeq[Long](0)
    val want = (0 until k).map { i =>
      shingles.map(sh => (MinHashConsts.a(i) * h40(sh) + MinHashConsts.b(i)) % MinHashConsts.M).min
    }
    assert(got == want)
  }

  test("minhash estimate approximates jaccard") {
    val s = spark
    import s.implicits._
    val a = (1 to 40).map(i => s"sh$i")
    val b = (21 to 60).map(i => s"sh$i") // true J = 20/60 = 1/3
    val est = Seq((a, b)).toDF("a", "b")
      .select(S.minhashEstimate(
        S.minhashSignature(col("a"), 128), S.minhashSignature(col("b"), 128)))
      .collect().head.getDouble(0)
    assert(math.abs(est - 1.0 / 3) < 0.15, s"estimate $est too far from 1/3")
  }

  test("simhash40: identical inputs agree, near inputs are near") {
    val s = spark
    import s.implicits._
    val base = (1 to 50).map(i => s"tok$i")
    val near = base.updated(0, "DIFFERENT")
    val far = (100 to 150).map(i => s"tok$i")
    val df = Seq((base, near, far)).toDF("a", "b", "c")
    val r = df.select(
      S.simhash40(col("a")).as("ha"), S.simhash40(col("b")).as("hb"),
      S.simhash40(col("c")).as("hc")).collect().head
    val (ha, hb, hc) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(ha >> 40 == 0L, "only 40 bits used")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(ha, hb) <= 8, s"near docs differ in few bits: ${ham(ha, hb)}")
    assert(ham(ha, hc) > ham(ha, hb), "far docs differ in more bits")
  }

  test("simhash banding is complete for every blocks > maxHamming (pigeonhole)") {
    val s = spark
    import s.implicits._
    // deterministic corpus with clusters of near-identical docs: mutate a
    // base token list at 0-3 positions so hamming ≤ 3 pairs genuinely exist
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 400).map(i => s"w$i")
    val docs = (0 until 12).flatMap { c =>
      val base = Seq.fill(40)(vocab(rnd.nextInt(vocab.size)))
      (0 until 5).map { j =>
        val muts = rnd.nextInt(4)
        val t = (0 until muts).foldLeft(base) { (acc, _) =>
          acc.updated(rnd.nextInt(acc.size), vocab(rnd.nextInt(vocab.size)))
        }
        (c * 5L + j, t.mkString(" "))
      }
    }
    val df = docs.toDF("doc_id", "text")
    // brute-force truth: every pair with sketch hamming <= 3
    val hs = df.select(col("doc_id"),
      S.simhash40(T.tokens(T.normalized(col("text")))).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val want = (for {
      (ia, ha) <- hs; (ib, hb) <- hs
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(want.nonEmpty, "fixture must contain near-dup pairs")
    for (blocks <- Seq(4, 5, 8)) {
      val got = graft.ops.Dedup.simhash(df, "doc_id", "text",
        maxHamming = 3, blocks = blocks)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"blocks=$blocks must find exactly the brute-force pairs " +
          s"(missing ${want -- got}, extra ${got -- want})")
    }
    // the 60-bit sketch dial (r20): same law against ITS brute force —
    // the wide hamming ball is a different pair set, but the banded join
    // must still find exactly it
    val hs60 = df.select(col("doc_id"),
      S.simhash60(T.tokens(T.normalized(col("text")))).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val want60 = (for {
      (ia, ha) <- hs60; (ib, hb) <- hs60
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(want60.nonEmpty, "fixture must contain 60-bit near-dup pairs")
    for (blocks <- Seq(4, 5)) {
      val got = graft.ops.Dedup.simhash(df, "doc_id", "text",
        maxHamming = 3, blocks = blocks, bits = 60)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want60,
        s"bits=60 blocks=$blocks must find exactly the brute-force pairs " +
          s"(missing ${want60 -- got}, extra ${got -- want60})")
    }
  }

  test("simhash evaluates each document's sketch once; a null text pairs with nothing") {
    val s = spark
    // an RDD source, so the optimizer cannot fold the plan into a local
    // relation and drop the operators this test looks at
    val docs = s.createDataFrame(
      s.sparkContext.parallelize(Seq(Row(1L, "a b c d e f g h"),
        Row(2L, "a b c d e f g h"), Row(3L, null), Row(4L, null)), 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    for (bits <- Seq(40, 60)) {
      val pairs = graft.ops.Dedup.simhash(docs, "doc_id", "text", bits = bits)
      // the projection computes the sketch; no Filter may compute it again
      val filters = pairs.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.sql
      }
      assert(filters.nonEmpty && !filters.exists(_.contains("graft_token_hash")),
        filters.mkString("\n"))
      assert(pairs.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    }
  }

  test("simhash blocks=5 candidate keying is exhaustively complete over all <=3-bit flips") {
    // data-independent twin of the corpus test above: for EVERY 40-bit
    // xor-mask with popcount <= maxHamming, some (blocks-maxHamming)-piece
    // subset must be entirely clean (the pigeonhole guarantee the banded
    // join relies on). Exhaustive - 1+40+780+9880 masks - so the invariant
    // is pinned for the production default blocks=5, not just sampled.
    val (bits, blocks, maxHamming) = (40, 5, 3)
    val width = bits / blocks
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    assert(combos.size == 10, "C(5,2) tables at the default parameters")
    def dirtyPieces(mask: Long): Set[Int] =
      (0 until blocks).filter(b => ((mask >> (b * width)) & ((1L << width) - 1)) != 0).toSet
    val masks: Iterator[Long] =
      Iterator(0L) ++
        (0 until bits).iterator.map(i => 1L << i) ++
        (for { i <- (0 until bits).iterator; j <- (i + 1 until bits).iterator }
          yield (1L << i) | (1L << j)) ++
        (for { i <- (0 until bits).iterator; j <- (i + 1 until bits).iterator;
               l <- (j + 1 until bits).iterator }
          yield (1L << i) | (1L << j) | (1L << l))
    var checked = 0
    masks.foreach { m =>
      val dirty = dirtyPieces(m)
      assert(combos.exists(subset => subset.forall(!dirty.contains(_))),
        s"mask ${m.toBinaryString} (hamming ${java.lang.Long.bitCount(m)}) " +
          "has no clean table - the banded join would lose this pair")
      checked += 1
    }
    assert(checked == 1 + 40 + 780 + 9880)
  }

  test("simhash40 equals the majority-vote model") {
    val s = spark
    import s.implicits._
    val toks = Seq("a", "b", "c", "a", "b", "a")
    val got = Seq(toks).toDF("t").select(S.simhash40(col("t")))
      .collect().head.getLong(0)
    val hs = toks.map(h40)
    val want = (0 until 40).map { i =>
      if (2 * hs.count(h => ((h >> i) & 1L) == 1L) > hs.size) 1L << i else 0L
    }.reduce(_ | _)
    assert(got == want)
  }

  test("simhash60 equals the majority-vote model over md5-60 token hashes") {
    val s = spark
    import s.implicits._
    val toks = Seq("a", "b", "c", "a", "b", "a")
    val got = Seq(toks).toDF("t").select(S.simhash60(col("t")))
      .collect().head.getLong(0)
    val hs = toks.map(h60)
    val want = (0 until 60).map { i =>
      if (2 * hs.count(h => ((h >> i) & 1L) == 1L) > hs.size) 1L << i else 0L
    }.reduce(_ | _)
    assert(got == want)
    assert(got >> 60 == 0L, "only 60 bits used")
  }

  test("positionedShingleHashes equals the md5-prefix model, index-aligned") {
    val s = spark
    import s.implicits._
    def md5Hash60(text: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val df = Seq((1L, Seq("a", "b", "c", "d")), (2L, Seq("x", "y"))).toDF("id", "ts")
    val got = df.select(col("id"), S.positionedShingleHashes(col("ts"), 3).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(md5Hash60("a b c"), md5Hash60("b c d")),
      "element j hashes the space-joined tokens j..j+n-1")
    assert(got(2L).isEmpty, "documents shorter than n have no full window")
  }

  test("quantizeInt8: codes bounded, zero vector safe, error within half-step") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array(1.0, -2.0, 0.5, 127.0)),
      (2L, Array(0.0, 0.0, 0.0, 0.0)),
      (3L, Array(-0.001, 0.001, 0.0005, -0.0005))).toDF("id", "v")
    val got = SimilaritySearch.quantizeInt8Stats(df, "id", "v").collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // exact digests: q = (1, -2, 1, 127) — pins the ±127 boundary slot
    // (an off-by-one to 128 would shift q_sum/q_l1 by exactly 1)
    val (s1, d1, q1sum, l11, e1) = got(1L)
    assert(s1 == 1.0 && d1 == 4L, "maxAbs 127 gives scale exactly 1")
    assert(q1sum == 127L && l11 == 131L, "codes are exactly (1, -2, 1, 127)")
    assert(e1 == 0.25, "only the 0.5 slot rounds: error (1.0-0.5)^2")
    val (s2, _, q2sum, q2l1, e2) = got(2L)
    assert(s2 == 0.0 && q2sum == 0L && q2l1 == 0L && e2 == 0.0,
      "all-zero vector quantizes to zeros without dividing by zero")
    assert(got(3L)._5 <= 4 * (got(3L)._1 / 2) * (got(3L)._1 / 2) + 1e-20,
      "tiny magnitudes scale correctly")
  }

  test("searchQuantized with full rerank headroom equals exact brute force") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // seeded random vectors: quantization reorders stage 1, but with
    // rerank covering the whole corpus the exact re-rank must recover the
    // exact brute-force answer bit for bit
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(16)(rnd.nextDouble() * 2 - 1))).toDF("id", "v")
    val queries = vecs.filter(col("id") < 3)
    val index = SimilaritySearch.quantizedIndex(vecs, "id", "v")
    val got = SimilaritySearch
      .searchQuantized(index, vecs, queries, "id", "v", k = 5, rerank = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(2))).toSet
    val want = SimilaritySearch.bruteForce(vecs, queries, "id", "v", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(2))).toSet
    assert(got == want, "full-headroom two-stage must equal exact search")
    // with tight headroom it still returns k well-formed rows per query
    val tight = SimilaritySearch
      .searchQuantized(index, vecs, queries, "id", "v", k = 5, rerank = 8)
      .collect()
    assert(tight.groupBy(_.getLong(0)).values.forall(_.length == 5))
  }

  test("dupClusters: both paths find connected components") {
    val s = spark
    import s.implicits._
    // a 4-node chain (needs >1 star iteration) plus a separate pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L)
    // default: 4 edges <= localThreshold, driver union-find
    val local = graft.ops.Dedup.dupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local == want)
    // localThreshold=0 forces the distributed star iteration
    val dist = graft.ops.Dedup.dupClusters(pairs, localThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dist == want)
  }

  test("dupClusters: diameter-200 path converges in O(log d) rounds") {
    val s = spark
    import s.implicits._
    // path 0-1-2-...-200: plain min-propagation needs 200 rounds; the
    // star algorithm must finish well inside 10 (≈ log2 200 + slack).
    // ids descend so the min label has to travel the whole path.
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = graft.ops.Dedup.dupClusters(pairs, maxIter = 10,
        localThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 201)
    assert(got.forall(_._2 == 0L), "every node labels to the component min")
  }

  test("dupClusters: non-convergence is an error by default") {
    val s = spark
    import s.implicits._
    val pairs = (0L until 32L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // maxIter=1 cannot converge (fixpoint needs a confirming round)
    intercept[IllegalStateException] {
      graft.ops.Dedup.dupClusters(pairs, maxIter = 1, localThreshold = 0)
    }
    // warnOnly downgrades to a warning but the result must still be
    // well-formed: exactly one label per id
    val lax = graft.ops.Dedup.dupClusters(pairs, maxIter = 1,
      warnOnly = true, localThreshold = 0)
    val rows = lax.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._1).distinct.length == rows.length,
      s"one label per id even when not converged: ${rows.toSeq}")
    assert(rows.map(_._1).toSet == (0L to 32L).toSet)
  }

  test("dupClusters: self-loop-only ids label themselves; bad id types rejected") {
    val s = spark
    import s.implicits._
    // 7 appears only as a self-pair: it must still come out, as its own
    // cluster (both paths)
    val pairs = Seq((1L, 2L), (7L, 7L), (2L, 2L)).toDF("id_a", "id_b")
    for (thr <- Seq(1L << 20, 0L)) {
      val got = graft.ops.Dedup.dupClusters(pairs, localThreshold = thr)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L), s"thr=$thr: $got")
    }
    // string ids would silently cast to null and empty the edge set —
    // must be rejected loudly instead
    val bad = Seq(("a", "b")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Dedup.dupClusters(bad)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("dupClusters: local and distributed paths agree on a random graph") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 300).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    val local = graft.ops.Dedup.dupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val dist = graft.ops.Dedup.dupClusters(pairs, localThreshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local == dist)
  }

  test("LSH plane weights are deterministic and in [-1, 1)") {
    val w1 = SimilaritySearch.planeWeight(0, 0, 0)
    val w2 = SimilaritySearch.planeWeight(0, 0, 0)
    assert(w1 == w2)
    val all = for (t <- 0 until 3; p <- 0 until 4; j <- 0 until 8)
      yield SimilaritySearch.planeWeight(t, p, j)
    assert(all.forall(w => w >= -1.0 && w < 1.0))
    assert(all.distinct.size > all.size / 2, "weights vary with (t,p,j)")
  }
}
