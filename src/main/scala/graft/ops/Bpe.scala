package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.expr.BpeModel

/** Trainable byte-pair-encoding tokenizer (Sennrich et al. 2016) — the
  * real thing, replacing TextFunctions' ceil(len/6) "BPE-ish" token-count
  * proxy wherever actual subword pieces are needed.
  *
  * Training follows the standard industrial split (HuggingFace
  * tokenizers, SentencePiece BPE): ONE distributed pass builds the
  * word-frequency table — the only corpus-sized computation — and the
  * merge loop then runs driver-side over that bounded table. At 100 TB
  * the word count is a single (token-hash-keyed) shuffle with map-side
  * combine; the driver table is capped at `maxWords` top words
  * (deterministic (count DESC, token ASC) order), the classic
  * frequency-threshold trade every production BPE trainer makes — OOV
  * words still encode fine (down to characters) since merges generalize
  * below the cap.
  *
  * Pair selection is deterministic: highest pair count, ties to the
  * lexicographically smallest (left, right). Adjacent-pair counts are
  * positional (overlapping: "aaa" contributes (a,a) twice); the rewrite
  * merges left-to-right, skipping the consumed position — the same
  * convention as the reference implementations, and the one the
  * plain-Scala spec model replays.
  *
  * Encoding is scan-side ([[Tokenizer]]): one [[graft.expr.SubwordEncode]]
  * kernel with the merge table broadcast as its reference object. Pieces
  * come back NESTED per token, so decode (`concat_ws(' ', transform(pieces, concat_ws('')))`)
  * is exact for any token — no end-of-word sentinel to collide with
  * hostile text.
  */
object Bpe extends Tokenizer[BpeModel] {

  /** Distributed word count → driver merge loop. `numMerges` bounds the
    * learned vocabulary (merges + base characters); `maxWords` bounds
    * driver memory against open-ended vocabularies. With `byteFallback`
    * the model closes its vocabulary at alphabet ∪ merges ∪ the 256
    * [[graft.expr.ByteTokens]]: encode-time codepoints outside the
    * training alphabet decompose to byte tokens (exact decode on ANY
    * input, SentencePiece's byte_fallback convention), and no learned
    * merge may collide with a byte token's spelling.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            maxWords: Int = 100000, byteFallback: Boolean = false): BpeModel = {
    import graft.core.Cols.{q => Q}
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxWords > 0, s"maxWords must be positive, got $maxWords")
    val counts = df
      .select(explode(T.tokens(T.normalized(Q(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromCounts(counts, numMerges, byteFallback)
  }

  /** The merge loop over a word-frequency table — driver-side by design
    * (the table is vocabulary-sized, not corpus-sized). Exposed for specs
    * and for callers that already maintain word counts incrementally.
    */
  def trainFromCounts(counts: Seq[(String, Long)],
                      numMerges: Int,
                      byteFallback: Boolean = false): BpeModel = {
    var words: Array[(Array[String], Long)] = counts.map { case (w, c) =>
      (w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))), c)
    }.toArray
    val merges = Vector.newBuilder[(String, String)]
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      val pc = collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (ps, c) =>
        var i = 0
        while (i < ps.length - 1) {
          val k = (ps(i), ps(i + 1))
          pc(k) = pc.getOrElse(k, 0L) + c
          i += 1
        }
      }
      // fallback mode must never LEARN a piece spelled like a byte token
      // (the literal text `<0x41>` in a corpus would otherwise round-trip
      // to `A`); outside fallback mode nothing is filtered
      if (byteFallback)
        pc.filterInPlace { case ((l, r), _) =>
          !graft.expr.ByteTokens.isByteToken(l + r) }
      if (pc.isEmpty) exhausted = true
      else {
        val best = pc.minBy { case ((l, r), c) => (-c, l, r) }._1
        merges += best
        words = words.map { case (ps, c) =>
          if (ps.length < 2) (ps, c)
          else {
            val out = collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < ps.length) {
              if (i < ps.length - 1 && ps(i) == best._1 &&
                  ps(i + 1) == best._2) {
                out += ps(i) + ps(i + 1); i += 2
              } else { out += ps(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
        m += 1
      }
    }
    val alphabet =
      if (!byteFallback) Array.empty[String]
      else counts.iterator.flatMap(_._1.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))).toArray.distinct.sorted
    new BpeModel(merges.result().toArray, byteFallback, alphabet)
  }

  /** The model as a (merge_idx, left, right) DataFrame — the snapshot
    * shape for the persisted-model twin: merge ORDER is the model (BPE
    * encodes by applying merges in training order), so the index column
    * is data, not bookkeeping. Vocabulary-sized (= numMerges rows).
    * Byte-fallback models additionally carry their training ALPHABET
    * (merge_idx = −1 rows, one symbol each) and a single −2 marker row
    * — construction-time state the merge rows alone cannot reconstruct;
    * non-fallback snapshots are byte-identical to earlier rounds'.
    */
  def modelToDf(spark: org.apache.spark.sql.SparkSession,
                model: BpeModel): DataFrame = {
    import spark.implicits._
    val merges = model.merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }.toSeq
    val extra =
      if (!model.byteFallback) Nil
      else (-2L, "<byte_fallback>", "") ::
        model.alphabet.toList.map(s => (-1L, s, ""))
    (merges ++ extra).toDF("merge_idx", "left", "right")
  }

  /** Rebuild the model from its snapshot. The collect is merge-table
    * sized (numMerges rows — driver-side by design, like trainFromCounts'
    * word table). The −2 marker row re-arms byte-fallback; −1 rows
    * rebuild the alphabet.
    */
  def modelFromDf(df: DataFrame): BpeModel = {
    val rows = df.select(col("merge_idx").cast("long"),
      col("left"), col("right")).collect()
    val merges = rows.filter(_.getLong(0) >= 0).sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
    val fallback = rows.exists(_.getLong(0) == -2L)
    val alphabet = rows.filter(_.getLong(0) == -1L)
      .map(_.getString(1)).sorted
    new BpeModel(merges, fallback, alphabet)
  }
}
