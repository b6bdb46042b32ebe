package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.expr.{Log2Fp, UnigramModel}

/** Trainable unigram-LM tokenizer (Kudo 2018, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates" — the SentencePiece unigram algorithm), the other
  * production tokenizer beside [[Bpe]].
  *
  * Training follows the same industrial split as BPE: ONE distributed
  * pass builds the word-frequency table — the only corpus-sized
  * computation, a single token-hash-keyed shuffle with map-side combine
  * — and the seed + EM + prune loop runs driver-side over that bounded
  * table (capped at `maxWords` top words, deterministic
  * (count DESC, token ASC) order). At 100 TB nothing here changes: the
  * driver loop's cost is a function of the CAP, not the corpus.
  *
  * The EM is the VITERBI (hard-EM) variant: the E-step's expected piece
  * counts are replaced by counts from each word's single best
  * segmentation — the same hard-assignment trade the engine's
  * fixed-point k-means makes vs soft mixture EM, chosen here because it
  * keeps every quantity an integer: piece scores are [[Log2Fp]]
  * fixed-point log2 relative frequencies (score = log2fp(count) −
  * log2fp(total)), so training is bit-reproducible and the corpus-wide
  * decode∘encode oracle can hash-gate the whole train+encode path.
  * (Soft EM's forward-backward needs log-sum-exp, which has no exact
  * integer form; Kudo's own optimizer is likewise an approximation —
  * seeded from frequent substrings and locally pruned.)
  *
  * Algorithm per round: Viterbi-segment every table word under current
  * scores → count piece uses (weighted by word frequency) → keep every
  * single codepoint plus the top `vocabSize − |chars|` multi-codepoint
  * pieces by (use DESC, piece ASC) → re-score from the kept counts.
  * Single codepoints are never pruned (the coverage guarantee that makes
  * encode total); unseen codepoints at encode time segment as UNK
  * singles at a floor score, preserving exact reconstruction.
  *
  * Encoding is scan-side ([[Tokenizer]]): one [[graft.expr.SubwordEncode]]
  * kernel with the scored piece table broadcast as its reference object,
  * nested pieces per token — byte-identical decode, no sentinel to
  * collide with hostile text (the BPE discipline).
  */
object Unigram extends Tokenizer[UnigramModel] {

  /** Distributed word count → driver seed/EM/prune loop. With
    * `byteFallback`, the 256 [[graft.expr.ByteTokens]] are seeded into
    * the vocabulary at the UNK floor score, no learned piece may share a
    * byte token's spelling, and encode-time uncovered codepoints
    * decompose to byte tokens instead of literal UNK singles — the
    * SentencePiece byte_fallback convention, making the vocabulary
    * closed and decode exact on ANY input.
    */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
            maxWords: Int = 100000, maxPieceLen: Int = 8,
            emIters: Int = 4, byteFallback: Boolean = false): UnigramModel = {
    import graft.core.Cols.{q => Q}
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val counts = df
      .select(explode(T.tokens(T.normalized(Q(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromCounts(counts, vocabSize, maxPieceLen, emIters, byteFallback)
  }

  /** The seed + hard-EM + prune loop over a word-frequency table —
    * driver-side by design (vocabulary-sized work). Exposed for specs
    * and incremental-count callers, mirroring [[Bpe.trainFromCounts]].
    */
  def trainFromCounts(counts: Seq[(String, Long)], vocabSize: Int,
                      maxPieceLen: Int = 8, emIters: Int = 4,
                      byteFallback: Boolean = false): UnigramModel = {
    require(maxPieceLen >= 1 && emIters >= 1)
    val words: Array[(Array[String], Long)] = counts.map { case (w, c) =>
      (w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))), c)
    }.toArray

    // ---- seed: substring frequencies up to maxPieceLen ----
    val subCount = collection.mutable.Map.empty[String, Long]
    words.foreach { case (cps, c) =>
      var i = 0
      while (i < cps.length) {
        val lim = math.min(maxPieceLen, cps.length - i)
        val sb = new java.lang.StringBuilder
        var l = 1
        while (l <= lim) {
          sb.append(cps(i + l - 1))
          val s = sb.toString
          subCount(s) = subCount.getOrElse(s, 0L) + c
          l += 1
        }
        i += 1
      }
    }
    // fallback mode never LEARNS a piece spelled like a byte token — the
    // literal corpus text `<0x41>` must not round-trip to `A`
    def learnable(s: String): Boolean =
      !(byteFallback && graft.expr.ByteTokens.isByteToken(s))
    val chars = subCount.keysIterator
      .filter(s => s.codePointCount(0, s.length) == 1).toArray.sorted
    val seedCap = math.max(vocabSize * 4, vocabSize + chars.length)
    val multis = subCount.iterator
      .filter { case (s, _) =>
        s.codePointCount(0, s.length) > 1 && learnable(s) }
      .toArray.sortBy { case (s, c) => (-c, s) }
      .take(math.max(0, seedCap - chars.length)).map(_._1)
    var kept: Array[String] = chars ++ multis

    def rescore(use: collection.Map[String, Long],
                pieces: Array[String]): Array[(String, Long)] = {
      // max(count, 1): a kept-but-unused piece (only single codepoints
      // can be) gets the 1-count floor instead of a log of zero
      val total = math.max(1L, pieces.iterator.map(p =>
        math.max(use.getOrElse(p, 0L), 1L)).sum)
      val logTotal = Log2Fp.compute(total)
      pieces.sorted.map { p =>
        (p, Log2Fp.compute(math.max(use.getOrElse(p, 0L), 1L)) - logTotal)
      }
    }

    var model = new UnigramModel(rescore(subCount, kept))

    // ---- hard-EM rounds: Viterbi counts -> prune -> re-score ----
    var it = 0
    while (it < emIters) {
      val use = collection.mutable.Map.empty[String, Long]
      words.foreach { case (cps, c) =>
        model.encodeWord(cps.mkString).foreach { p =>
          use(p) = use.getOrElse(p, 0L) + c
        }
      }
      val keepMultis = use.iterator
        .filter { case (s, _) =>
          s.codePointCount(0, s.length) > 1 && learnable(s) }
        .toArray.sortBy { case (s, c) => (-c, s) }
        .take(math.max(0, vocabSize - chars.length)).map(_._1)
      kept = chars ++ keepMultis
      model = new UnigramModel(rescore(use, kept), byteFallback)
      it += 1
    }
    if (!byteFallback) model
    else {
      // seed the 256 byte tokens at the trained model's UNK floor: real
      // vocabulary members (persisted, id-addressable) that the matcher
      // never text-matches — the fallback path alone emits them
      val floor = model.unkScore
      val seeded = (model.pieces ++
        graft.expr.ByteTokens.tokens.map((_, floor))).sortBy(_._1)
      new UnigramModel(seeded, byteFallback = true)
    }
  }

  /** Marker row re-arming byte-fallback on reload (the BPE −2-row
    * convention). Structurally collision-free twice over: pieces come
    * from `split(text, "\\s+")` tokens so can never contain a space, and
    * no trained Log2Fp score can reach Long.MinValue.
    */
  private[ops] val FallbackMarker: (String, Long) =
    ("<byte fallback>", Long.MinValue)

  /** The model as a (piece, score_fp) DataFrame — the snapshot shape for
    * the persisted-model twin. The UNK floor and the DP length bound are
    * pure functions of the scored pieces ([[UnigramModel]] derives both),
    * so this table IS the whole model. Byte-fallback models additionally
    * carry the [[FallbackMarker]] row so the snapshot self-describes —
    * reloading with the default flag cannot silently disarm the fallback
    * path (the `<0x41>` collision discipline depends on it).
    */
  def modelToDf(spark: org.apache.spark.sql.SparkSession,
                model: UnigramModel): DataFrame = {
    import spark.implicits._
    val rows = if (model.byteFallback) model.pieces.toSeq :+ FallbackMarker
               else model.pieces.toSeq
    rows.toDF("piece", "score_fp")
  }

  /** Rebuild the model from its snapshot (vocabulary-sized collect). The
    * [[FallbackMarker]] row re-arms byte-fallback regardless of the flag
    * argument; passing `byteFallback = true` for a snapshot with neither
    * the marker nor the 256 seeded byte tokens fails loudly instead of
    * arming a model whose trie would text-match byte-token pieces.
    */
  def modelFromDf(df: DataFrame, byteFallback: Boolean = false): UnigramModel = {
    val rows = df.select(col("piece"), col("score_fp").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val marked = rows.contains(FallbackMarker)
    val pieces = rows.filter(_ != FallbackMarker).sortBy(_._1)
    if (byteFallback && !marked) {
      val have = pieces.iterator.map(_._1).toSet
      require(graft.expr.ByteTokens.tokens.forall(have),
        "byteFallback=true but the snapshot carries neither the fallback " +
          "marker row nor the 256 seeded byte tokens — it was not trained " +
          "with byte_fallback; refusing to arm the fallback path")
    }
    new UnigramModel(pieces, marked || byteFallback)
  }
}
