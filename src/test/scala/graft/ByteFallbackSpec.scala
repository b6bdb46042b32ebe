package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.expr.{ByteTokens, DecodePieces, UnigramModel, WordPieceModel}
import graft.ops.{Bpe, Unigram, WordPiece}

/** Byte-fallback laws across the tokenizer family: the SentencePiece
  * byte_fallback convention — unseen codepoints decompose to `<0xHH>`
  * byte tokens (UNK impossible), vocabularies close at trained ∪ byte
  * tokens, literal byte-token TEXT never collides with the tokens
  * themselves, and DecodePieces inverts everything exactly.
  */
class ByteFallbackSpec extends AnyFunSuite {

  private def nested(tokens: Seq[Seq[String]]): GenericArrayData =
    new GenericArrayData(tokens.map(t => new GenericArrayData(
      t.map(p => UTF8String.fromString(p): AnyRef).toArray): AnyRef).toArray)

  private def decode(tokens: Seq[Seq[String]], wp: Boolean): String =
    DecodePieces(wp)(nested(tokens)).toString

  test("ByteTokens: shape, parse, codepoint decomposition") {
    assert(ByteTokens.tokens.length == 256)
    assert(ByteTokens.tokens(0x41) == "<0x41>")
    assert(ByteTokens.isByteToken("<0xFF>") && ByteTokens.isByteToken("<0x00>"))
    // lowercase hex, wrong arity, wrong frame: not byte tokens
    assert(!ByteTokens.isByteToken("<0xff>"))
    assert(!ByteTokens.isByteToken("<0x1>"))
    assert(!ByteTokens.isByteToken("0x41>"))
    assert(!ByteTokens.isByteToken("<0x411>"))
    assert(ByteTokens.byteOf("<0x7A>") == 0x7a)
    assert(ByteTokens.encodeCp('z').toSeq == Seq("<0x7A>"))
    // 3-byte and 4-byte UTF-8
    assert(ByteTokens.encodeCp(0x2603).toSeq ==
      Seq("<0xE2>", "<0x98>", "<0x83>"))
    assert(ByteTokens.encodeCp(0x1f701).toSeq ==
      Seq("<0xF0>", "<0x9F>", "<0x9C>", "<0x81>"))
  }

  test("PieceDecode: byte runs reassemble, ## strips positionally") {
    // a 3-byte codepoint split across byte tokens reassembles in one token
    assert(decode(Seq(Seq("<0xE2>", "<0x98>", "<0x83>")), wp = false) == "☃")
    // plain pieces and byte tokens interleave within a token
    assert(decode(Seq(Seq("ab", "<0x7A>", "cd")), wp = false) == "abzcd")
    // tokens join with single spaces
    assert(decode(Seq(Seq("ab"), Seq("cd")), wp = false) == "ab cd")
    // wordPiece mode: ## strips at i>0 only; byte tokens stay bare
    assert(decode(Seq(Seq("un", "##aff", "##able")), wp = true) ==
      "unaffable")
    assert(decode(Seq(Seq("##lit", "##eral")), wp = true) == "##literal")
    assert(decode(Seq(Seq("a", "<0x7A>", "##b")), wp = true) == "azb")
    // a LITERAL byte-token-shaped piece emitted by a non-fallback model
    // still maps to its byte — which is why fallback trainers must never
    // learn one (the collision filters); decode itself is unconditional
    assert(decode(Seq(Seq("<0x41>")), wp = false) == "A")
  }

  test("WordPiece fallback: UNK impossible, scan resumes, collision-safe") {
    val m = new WordPieceModel(
      (Array("un", "u", "n", "a", "##n", "##a") ++ ByteTokens.tokens).sorted,
      byteFallback = true)
    // unseen codepoint mid-word: byte token, then the scan RESUMES
    assert(m.encodeWord("unza").toSeq == Seq("un", "<0x7A>", "##a"))
    // fallback at position 0, real continuation piece after
    assert(m.encodeWord("za").toSeq == Seq("<0x7A>", "##a"))
    // astral codepoint: four byte tokens
    assert(m.encodeWord(new String(Character.toChars(0x1f701))).toSeq ==
      Seq("<0xF0>", "<0x9F>", "<0x9C>", "<0x81>"))
    // literal byte-token text: the seeded vocabulary member must NOT
    // text-match — every character falls through (none in vocab -> bytes)
    // and decode returns the literal text, not 'A'
    val lit = m.encodeWord("<0x41>")
    assert(!lit.contains("[UNK]") && lit.forall(ByteTokens.isByteToken))
    assert(decode(Seq(lit.toSeq), wp = true) == "<0x41>")
    // the same model WITHOUT fallback: [UNK] (the legacy semantics hold)
    val m0 = new WordPieceModel(Array("un", "##a"))
    assert(m0.encodeWord("unz").toSeq == Seq(m0.Unk))
  }

  test("WordPiece fallback trainer: seeds 256 tokens, never learns one") {
    val m = WordPiece.trainFromCounts(
      Seq(("<0x41>", 50L), ("ab", 9L)), numMerges = 20,
      byteFallback = true)
    assert(ByteTokens.tokens.forall(m.vocab.contains), "seeding incomplete")
    // greedy encode of the hostile word reconstructs it exactly: the
    // longest learned prefix piece is '<0x41' (the full spelling is
    // filtered from learning), '##>' finishes, decode inverts
    val ps = m.encodeWord("<0x41>")
    assert(decode(Seq(ps.toSeq), wp = true) == "<0x41>",
      s"collision: ${ps.toSeq}")
    // the non-fallback trainer on the same counts is untouched by the
    // filter (it MAY learn the full spelling — legacy behavior preserved)
    val m0 = WordPiece.trainFromCounts(Seq(("<0x41>", 50L)), 20)
    assert(m0.encodeWord("<0x41>").toSeq == Seq("<0x41>"))
  }

  test("Unigram fallback: Viterbi emits byte tokens, collision-safe") {
    val sc = -(1L << 20)
    val m = new UnigramModel(
      (Array(("a", sc), ("b", sc), ("ab", sc)) ++
        ByteTokens.tokens.map((_, sc * 30))).sortBy(_._1),
      byteFallback = true)
    assert(m.encodeWord("azb").toSeq == Seq("a", "<0x7A>", "b"))
    assert(m.encodeWord("ab").toSeq == Seq("ab"))
    // astral + literal byte-token text both reconstruct
    assert(decode(Seq(m.encodeWord("<0x41>").toSeq), wp = false) ==
      "<0x41>")
    val astral = new String(Character.toChars(0x1f773))
    assert(decode(Seq(m.encodeWord("a" + astral).toSeq), wp = false) ==
      "a" + astral)
    // non-fallback: the literal UNK single survives (legacy semantics)
    val m0 = new UnigramModel(Array(("a", sc)))
    assert(m0.encodeWord("az").toSeq == Seq("a", "z"))
  }

  test("Unigram fallback trainer: seeds byte tokens at the floor") {
    val m = Unigram.trainFromCounts(
      Seq(("abab", 10L), ("ba", 4L)), vocabSize = 8, byteFallback = true)
    val byteScores = m.pieces.filter(p => ByteTokens.isByteToken(p._1))
    assert(byteScores.length == 256)
    assert(byteScores.map(_._2).distinct.length == 1, "one floor score")
    // seeded tokens never text-match; unseen codepoints decompose
    assert(m.encodeWord("<0x41>").forall(p =>
      ByteTokens.isByteToken(p) || p.length == 1))
    assert(decode(Seq(m.encodeWord("azb").toSeq), wp = false) == "azb")
  }

  test("BPE fallback: out-of-alphabet singles decompose, merges intact") {
    val m = Bpe.trainFromCounts(
      Seq(("aab", 10L), ("ab", 5L)), numMerges = 2, byteFallback = true)
    assert(m.byteFallback && m.alphabet.toSeq == Seq("a", "b"))
    // in-alphabet words: identical pieces to the non-fallback twin
    val m0 = Bpe.trainFromCounts(Seq(("aab", 10L), ("ab", 5L)), 2)
    assert(m.encodeWord("aab").toSeq == m0.encodeWord("aab").toSeq)
    // unseen codepoint: byte tokens; neighbors still merge
    val ps = m.encodeWord("aabz")
    assert(ps.last == "<0x7A>" && ps.init.toSeq == m0.encodeWord("aab").toSeq)
    // astral unseen codepoint: 4 byte tokens, decode exact
    val astral = new String(Character.toChars(0x1f701))
    assert(decode(Seq(m.encodeWord("ab" + astral).toSeq), wp = false) ==
      "ab" + astral)
    // literal byte-token text decodes exactly (chars out of alphabet ->
    // bytes; the fallback trainer never learns the spelling)
    assert(decode(Seq(m.encodeWord("<0x41>").toSeq), wp = false) ==
      "<0x41>")
  }

  test("BPE fallback snapshot: marker + alphabet rows round-trip") {
    val s = TestSpark.spark
    val m = Bpe.trainFromCounts(
      Seq(("aab", 10L), ("ab", 5L)), numMerges = 2, byteFallback = true)
    val back = Bpe.modelFromDf(Bpe.modelToDf(s, m)
      .orderBy(org.apache.spark.sql.functions.rand(7))) // row order is storage noise
    assert(back.byteFallback && back.alphabet.toSeq == m.alphabet.toSeq)
    assert(back.merges.toSeq == m.merges.toSeq)
    for (w <- Seq("aab", "aabz", "<0x41>", "ab" +
        new String(Character.toChars(0x1f701))))
      assert(back.encodeWord(w).toSeq == m.encodeWord(w).toSeq, w)
    // a NON-fallback model's snapshot carries no marker/alphabet rows —
    // byte-identical to earlier rounds' shape — and reloads non-fallback
    val m0 = Bpe.trainFromCounts(Seq(("aab", 10L)), 1)
    val df0 = Bpe.modelToDf(s, m0)
    assert(df0.filter(org.apache.spark.sql.functions
      .col("merge_idx") < 0).count() == 0L)
    assert(!Bpe.modelFromDf(df0).byteFallback)
  }

  test("Unigram fallback snapshot: marker self-describes, mismatch fails") {
    val s = TestSpark.spark
    val m = Unigram.trainFromCounts(
      Seq(("abab", 10L), ("ba", 4L)), vocabSize = 8, byteFallback = true)
    // the DEFAULT-flag reload arms fallback from the marker row — the
    // silent-corruption scenario (trie text-matching '<0x41>') is gone
    val back = Unigram.modelFromDf(Unigram.modelToDf(s, m)
      .orderBy(org.apache.spark.sql.functions.rand(7)))
    assert(back.byteFallback)
    assert(back.pieces.toSeq == m.pieces.toSeq, "marker row stripped")
    for (w <- Seq("abab", "azb", "<0x41>"))
      assert(back.encodeWord(w).toSeq == m.encodeWord(w).toSeq, w)
    // non-fallback snapshot: no marker, reloads non-fallback; FORCING
    // the flag against it fails loudly instead of re-arming silently
    val m0 = Unigram.trainFromCounts(Seq(("abab", 10L)), vocabSize = 6)
    val df0 = Unigram.modelToDf(s, m0)
    assert(!Unigram.modelFromDf(df0).byteFallback)
    intercept[IllegalArgumentException] {
      Unigram.modelFromDf(df0, byteFallback = true)
    }
  }

  test("WordPiece fallback snapshot: marker self-describes, mismatch fails") {
    val s = TestSpark.spark
    val m = WordPiece.trainFromCounts(
      Seq(("abab", 10L), ("ba", 4L)), numMerges = 4, byteFallback = true)
    val back = WordPiece.modelFromDf(WordPiece.modelToDf(s, m)
      .orderBy(org.apache.spark.sql.functions.rand(7)))
    assert(back.byteFallback)
    assert(back.vocab.toSeq == m.vocab.toSeq, "marker row stripped")
    for (w <- Seq("abab", "azb", "<0x41>"))
      assert(back.encodeWord(w).toSeq == m.encodeWord(w).toSeq, w)
    val m0 = WordPiece.trainFromCounts(Seq(("abab", 10L)), numMerges = 2)
    val df0 = WordPiece.modelToDf(s, m0)
    assert(!WordPiece.modelFromDf(df0).byteFallback)
    intercept[IllegalArgumentException] {
      WordPiece.modelFromDf(df0, byteFallback = true)
    }
  }
}
