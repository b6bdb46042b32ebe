package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.ops.Unigram
import graft.expr.{Log2Fp, UnigramModel}
import TestSpark.spark

/** The unigram-LM tokenizer (Kudo 2018, hard-EM variant): Viterbi
  * optimality against exhaustive segmentation enumeration, lossless
  * round-trip on hostile tokens (UNK coverage), training determinism,
  * the coverage invariant (single codepoints never pruned), and the
  * persisted-model identity the hash-gated queries rely on.
  */
class UnigramSpec extends AnyFunSuite {

  /** All segmentations of `word` into model pieces / UNK singles, with
    * total scores — the brute-force reference Viterbi must match.
    */
  private def allSegScores(word: String, m: UnigramModel): Seq[Long] = {
    val score = m.pieces.toMap
    val cps = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    def rec(i: Int): Seq[(Long, Int)] = // (total, pieces) from position i
      if (i == cps.length) Seq((0L, 0))
      else (1 to math.min(m.maxLen, cps.length - i)).flatMap { l =>
        val s = cps.slice(i, i + l).mkString
        val sc = score.get(s).orElse(if (l == 1) Some(m.unkScore) else None)
        sc.toSeq.flatMap(v => rec(i + l).map { case (t, n) => (t + v, n + 1) })
      }
    rec(0).map(_._1)
  }

  test("Viterbi picks the max-score segmentation (vs exhaustive)") {
    val f = Log2Fp.F
    val m = new UnigramModel(Array(
      ("a", -3L << f), ("b", -3L << f), ("c", -4L << f),
      ("ab", -4L << f), ("bc", -5L << f), ("abc", -8L << f),
      ("aa", -5L << f)))
    // ab+c = -8, a+bc = -8, abc = -8, a+b+c = -10: three-way tie at -8;
    // any is valid — Viterbi must RETURN one of the maxima
    for (w <- Seq("abc", "ab", "aab", "abcabc", "aaa", "cba", "a", "")) {
      val got = m.encodeWord(w)
      assert(got.mkString == w, s"'$w' reconstruction")
      if (w.nonEmpty) {
        val total = got.map(p => m.pieces.toMap.getOrElse(p, m.unkScore)).sum
        assert(total == allSegScores(w, m).max, s"'$w' not optimal")
      }
    }
  }

  test("property: Viterbi == exhaustive max on random words and models") {
    val gen = for {
      vocabBits <- Gen.listOfN(6, Gen.zip(
        Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)),
        Gen.choose(-30L << Log2Fp.F, -1L << Log2Fp.F)))
      word <- Gen.choose(0, 8).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'z')).map(_.mkString))
    } yield (vocabBits.toMap.toArray, word)
    var seed = Seed(42L)
    for (_ <- 1 to 300) {
      val (vocab, word) = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val m = new UnigramModel(vocab.sortBy(_._1))
      val got = m.encodeWord(word)
      assert(got.mkString == word, s"'$word' reconstruction")
      if (word.nonEmpty) {
        val total = got.map(p => vocab.toMap.getOrElse(p, m.unkScore)).sum
        val best = allSegScores(word, m).max
        assert(total == best,
          s"'$word' vocab=${vocab.toSeq}: got $total, best $best")
      }
    }
  }

  test("training: deterministic, coverage-complete, capped") {
    val corpus = Seq(("the cat sat on the mat", 1), ("the cats sat", 1),
      ("a catalog of cats", 1), ("Ünïcode tökens — surrogates 😀 too", 1))
    val counts = corpus.flatMap(_._1.split(' ').filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }.toSeq
      .sortBy { case (w, c) => (-c, w) }
    val m1 = Unigram.trainFromCounts(counts, vocabSize = 40)
    val m2 = Unigram.trainFromCounts(counts, vocabSize = 40)
    assert(m1.pieces.toSeq == m2.pieces.toSeq, "training not deterministic")
    // every codepoint of the corpus survives as a single-cp piece
    val chars = counts.flatMap(_._1.codePoints().toArray.toSeq)
      .map(cp => new String(Character.toChars(cp))).toSet
    val vocab = m1.pieces.map(_._1).toSet
    assert(chars.subsetOf(vocab), "single codepoints were pruned")
    // multi-cp pieces respect the cap
    val multis = m1.pieces.map(_._1).count(s => s.codePointCount(0, s.length) > 1)
    assert(vocab.size <= math.max(40, chars.size))
    assert(multis <= math.max(0, 40 - chars.size))
    // frequent substrings win vocabulary slots
    assert(vocab.exists(p => p.length > 1 && "catalog".contains(p)),
      s"no multi-piece from the dominant words in ${vocab.toSeq.sorted}")
  }

  test("round-trip is exact on hostile tokens, including full-UNK") {
    val m = Unigram.trainFromCounts(Seq(("hello", 5L), ("world", 3L)), 10)
    for (w <- Seq("hello", "world", "helloworld", "xyzzy", "\u0000\u0001",
        "émoji😀", "", "h", "ολα")) {
      assert(m.encodeWord(w).mkString == w, s"'$w'")
    }
  }

  test("persisted model reconstructs identically (pieces, floor, bound)") {
    val s = spark
    val d = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val m = Unigram.train(d, "text", vocabSize = 150)
    val back = Unigram.modelFromDf(Unigram.modelToDf(s, m))
    assert(back.pieces.toSeq == m.pieces.toSeq)
    assert(back.unkScore == m.unkScore && back.maxLen == m.maxLen)
    // and the distributed encode round-trips the whole sf0.001 corpus:
    // decoded must equal the normalized text for every document
    val enc = Unigram.encodeStats(d, "doc_id", "text", back)
    val mism = d.join(enc.select(col("doc_id"), col("decoded")), "doc_id")
      .where(graft.functions.TextFunctions.normalized(col("text")) =!= col("decoded"))
      .count()
    assert(mism == 0L, s"$mism documents failed reconstruction")
  }

  test("n_pieces <= token codepoint count and >= n_tokens (cost sanity)") {
    val s = spark
    val d = s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val m = Unigram.train(d, "text", vocabSize = 200)
    val row = Unigram.encodeStats(d, "doc_id", "text", m)
      .agg(sum(col("n_pieces")).as("p"), sum(col("n_tokens")).as("t"))
      .head()
    assert(row.getLong(0) >= row.getLong(1), "pieces < tokens impossible")
    // a 200-piece vocab must compress below the char-level ceiling
    val charCeil = d.select(
        sum(size(split(graft.functions.TextFunctions.normalized(col("text")), ""))))
      .head().getLong(0)
    assert(row.getLong(0) < charCeil, "no compression over characters")
  }
}
