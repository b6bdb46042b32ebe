package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.ops.Bpe
import graft.expr.BpeModel
import TestSpark.spark

/** The BPE tokenizer: the merge loop against hand-computed merges, the
  * distributed encode against a driver-side re-encode (third
  * replication), lossless roundtrip on hostile random tokens, and the
  * piece-count properties the hash-gated pl_bpe_roundtrip query can't
  * express in SQL.
  */
class BpeSpec extends AnyFunSuite {

  test("merge loop: hand-computed merges and deterministic tie-break") {
    // "aaab"x3, "aab"x2: pair counts round 1: (a,a)=3*2+2=8, (a,b)=5 →
    // merge (a,a). Round 2 over {aa,a,b}x3, {aa,b}x2: (aa,a)=3, (aa,b)=2,
    // (a,b)=3 → tie (aa,a) vs (a,b) at 3 → lexicographic: ("a","b") < ("aa","a")
    val m = Bpe.trainFromCounts(Seq(("aaab", 3L), ("aab", 2L)), 3)
    assert(m.merges.toSeq == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
  }

  test("merge loop stops when no pairs remain") {
    val m = Bpe.trainFromCounts(Seq(("ab", 1L)), 100)
    assert(m.merges.toSeq == Seq(("a", "b")))
  }

  test("encodeWord: lowest-rank-first, leftmost on rank ties") {
    val model = new BpeModel(Array(("a", "a"), ("b", "c"), ("aa", "bc")))
    assert(model.encodeWord("aabc").toSeq == Seq("aabc"))
    assert(model.encodeWord("abc").toSeq == Seq("a", "bc"))
    // "aaaa": merge (a,a) leftmost first → aa,a,a → aa,aa (rank-0 again)
    assert(model.encodeWord("aaaa").toSeq == Seq("aa", "aa"))
    // "aaa": aa,a — (aa,a) not in table
    assert(model.encodeWord("aaa").toSeq == Seq("aa", "a"))
    assert(model.encodeWord("").toSeq == Seq.empty)
    assert(model.encodeWord("x").toSeq == Seq("x"))
  }

  test("distributed encode == driver re-encode on sf0.001; pieces lossless") {
    val s = spark
    import s.implicits._
    val d = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val model = Bpe.train(d, "text", numMerges = 120)
    // the sf0.001 vocabulary is tiny; the trainer stops when no pairs
    // remain (89 merges exhaust it), which is itself worth pinning
    assert(model.merges.nonEmpty && model.merges.length <= 120)

    val got = d.select(col("doc_id"),
      Bpe.pieces(col("text"), model).as("ps"))
      .as[(Long, Seq[Seq[String]])].collect().sortBy(_._1)
    val texts = d.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(got.length == texts.length)
    got.zip(texts).foreach { case ((id1, ps), (id2, text)) =>
      assert(id1 == id2)
      val toks = text.toLowerCase.replaceAll("\\s+", " ").trim
        .split(' ').toSeq.filter(_.nonEmpty)
      assert(ps.size == toks.size, s"doc $id1 token alignment")
      ps.zip(toks).foreach { case (pieces, tok) =>
        assert(pieces.mkString("") == tok, s"doc $id1 roundtrip '$tok'")
        assert(pieces.toSeq == model.encodeWord(tok).toSeq,
          s"doc $id1 pieces of '$tok'")
      }
    }
  }

  test("piece counts: n_tokens <= n_pieces <= n_chars; merges compress") {
    val s = spark
    val d = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val m0 = Bpe.train(d, "text", numMerges = 0)
    val m200 = Bpe.train(d, "text", numMerges = 200)
    def totals(m: BpeModel): (Long, Long) = {
      val r = Bpe.encodeStats(d, "doc_id", "text", m)
        .agg(sum("n_tokens"), sum("n_pieces")).head
      (r.getLong(0), r.getLong(1))
    }
    val (t0, p0) = totals(m0)
    val (t2, p2) = totals(m200)
    assert(t0 == t2, "token counts are model-independent")
    assert(p0 >= p2, "more merges never inflate the piece count")
    assert(p2 >= t2, "at least one piece per token")
    assert(p0 > p2, "200 merges must actually compress this corpus")
  }

  test("roundtrip property: hostile random unicode tokens") {
    val s = spark
    import s.implicits._
    def sample[A](g: Gen[A], i: Int): A =
      g.pureApply(Gen.Parameters.default, Seed(1299L + i))
    // non-whitespace unicode chars, incl. '<', '/', '>', combining marks
    val charGen = Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('<', '/', '>', 'w', 'ß', 'é', '中',
        '́', ' '), Gen.choose('!', '~'))
    val tokGen = Gen.nonEmptyListOf(charGen).map(_.mkString)
    val docs = (1 to 40).map { i =>
      (i.toLong, (1 to (i % 7 + 1)).map(j => sample(tokGen, i * 31 + j))
        .mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val model = Bpe.train(df, "text", numMerges = 50)
    val out = Bpe.encodeStats(df, "doc_id", "text", model)
      .select("doc_id", "decoded").as[(Long, String)].collect().toMap
    docs.foreach { case (id, text) =>
      val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
      assert(out(id) == norm, s"doc $id")
    }
  }

  test("model DataFrame round-trip preserves merges and pieces exactly") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "low lower lowest new newer"),
      (2L, "low low newer newest wide wider")).toDF("doc_id", "text")
    val model = Bpe.train(df, "text", numMerges = 30)
    // the DataFrame shape shuffled (snapshot stores don't keep row order)
    // must rebuild the identical model: merge ORDER is the model
    val loaded = Bpe.modelFromDf(
      Bpe.modelToDf(s, model).orderBy(rand(7)))
    assert(loaded.merges.toSeq == model.merges.toSeq)
    val a = Bpe.encodeStats(df, "doc_id", "text", model)
      .select("doc_id", "n_pieces", "decoded")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val b = Bpe.encodeStats(df, "doc_id", "text", loaded)
      .select("doc_id", "n_pieces", "decoded")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }
}
