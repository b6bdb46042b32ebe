package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cached
import graft.functions.{TextFunctions => T}
import graft.expr.{KernelCall, WordPieceModel, WordSymbols}

/** Trainable WordPiece tokenizer (Schuster & Nakajima 2012; the BERT
  * vocabulary convention of Devlin et al. 2019) — the third production
  * tokenizer beside [[Bpe]] and [[Unigram]], completing the family.
  *
  * Training is the published likelihood-gain merge rule: like BPE, but
  * the next merge maximizes count(ab) / (count(a) · count(b)) — the pair
  * whose fusion most increases corpus likelihood under a unigram piece
  * model — rather than raw pair count (this is the rule HuggingFace
  * tokenizers and the BERT wordpiece trainer document). Words are symbol
  * sequences with the `##` continuation convention from the start
  * (`abc` → `a ##b ##c`), so every learned piece is born in vocabulary
  * form. The comparison is INTEGER-EXACT: scores are ratios of longs,
  * compared by BigInt cross-multiplication (c₁·a₂·b₂ vs c₂·a₁·b₁ —
  * products of three counts overflow Long at corpus scale), ties to the
  * lexicographically smallest (left, right). No floats anywhere, so
  * training is bit-reproducible and the corpus round-trip hash-gates it.
  *
  * The distributed/driver split is the family's: ONE word-count pass
  * (token-hash shuffle, map-side combine, capped at maxWords
  * deterministically) is the only corpus-sized computation; the merge
  * loop is driver-side over the bounded table. Encoding is scan-side
  * greedy longest-match ([[Tokenizer]], [[graft.expr.SubwordEncode]])
  * with the vocabulary broadcast as the kernel's reference object.
  */
object WordPiece extends Tokenizer[WordPieceModel] {

  /** Distributed word count → driver likelihood-gain merge loop. A
    * second, alphabet-sized aggregation collects the DISTINCT symbols of
    * EVERY corpus word — not just the top-maxWords table — so the base
    * vocabulary covers all corpus codepoints in both positional forms
    * and no token of the training corpus can fall to [UNK], no matter
    * where the cap lands (the symbol set is bounded by the alphabet, so
    * this pass is cheap at any scale; without it a codepoint appearing
    * only in sub-cap-rare words would break the decode∘encode gate at
    * exactly the vocabulary sizes the 10x scale rows exercise).
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            maxWords: Int = 100000,
            byteFallback: Boolean = false): WordPieceModel = {
    import graft.core.Cols.{q => Q}
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    // ONE corpus-sized pass (the word-count shuffle); both the capped
    // table and the coverage symbols derive from the DISTINCT-WORD
    // aggregate, so the corpus text is never re-scanned
    val (counts, baseSyms) = Cached { c =>
      val wordCounts = c(df
        .select(explode(T.tokens(T.normalized(Q(textCol)))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c")))
      val counts = wordCounts
        .orderBy(col("c").desc, col("w").asc)
        .limit(maxWords)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val baseSyms = wordCounts
        .select(explode(KernelCall.column(col("w"), WordSymbols)).as("s"))
        .distinct().collect().map(_.getString(0)).toSeq
      (counts, baseSyms)
    }
    trainFromCounts(counts, numMerges, baseSyms, byteFallback)
  }

  /** The merge loop over a word-frequency table — driver-side by design,
    * mirroring [[Bpe.trainFromCounts]] with the WordPiece scoring rule.
    * `extraSymbols` widens the base vocabulary beyond the capped table's
    * own symbols (the [[train]] coverage pass).
    */
  def trainFromCounts(counts: Seq[(String, Long)],
                      numMerges: Int,
                      extraSymbols: Seq[String] = Nil,
                      byteFallback: Boolean = false): WordPieceModel = {
    // fallback mode never LEARNS a piece spelled like a byte token in
    // either positional form — literal `<0x41>` corpus text must not
    // round-trip to `A`
    def learnable(s: String): Boolean =
      !(byteFallback && (graft.expr.ByteTokens.isByteToken(s) ||
        (s.startsWith("##") &&
          graft.expr.ByteTokens.isByteToken(s.substring(2)))))
    var words: Array[(Array[String], Long)] = counts.map { case (w, c) =>
      val cps = w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      (cps.zipWithIndex.map { case (s, i) => if (i == 0) s else "##" + s },
        c)
    }.toArray
    // base vocabulary: every symbol that occurs (initial + continuation),
    // plus the coverage pass's corpus-wide symbol set
    val vocab = collection.mutable.LinkedHashSet.empty[String]
    extraSymbols.sorted.foreach(vocab.add)
    words.toSeq.sortBy { case (ps, _) => ps.mkString("\u0000") }
      .foreach { case (ps, _) => ps.foreach(vocab.add) }

    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      val pairC = collection.mutable.Map.empty[(String, String), Long]
      val symC = collection.mutable.Map.empty[String, Long]
      words.foreach { case (ps, c) =>
        var i = 0
        while (i < ps.length) {
          symC(ps(i)) = symC.getOrElse(ps(i), 0L) + c
          if (i < ps.length - 1) {
            val k = (ps(i), ps(i + 1))
            pairC(k) = pairC.getOrElse(k, 0L) + c
          }
          i += 1
        }
      }
      if (pairC.isEmpty) exhausted = true
      else {
        // argmax of c_ab/(c_a*c_b) by BigInt cross-multiplication; ties
        // to the lexicographically smallest pair. One unsorted pass —
        // the explicit tie-break makes the argmax independent of map
        // iteration order, so no per-merge sort is needed (it was the
        // merge loop's dominant cost at large vocabularies)
        var best: (String, String) = null
        var bestNum = BigInt(0); var bestDen = BigInt(1)
        pairC.foreach { case (k @ (l, r), cab) =>
          if (learnable(l +
              (if (r.startsWith("##")) r.substring(2) else r))) {
            val num = BigInt(cab)
            val den = BigInt(symC(l)) * BigInt(symC(r))
            val better =
              if (best == null) true
              else {
                val c = (num * bestDen).compare(bestNum * den)
                c > 0 || (c == 0 &&
                  (l < best._1 || (l == best._1 && r < best._2)))
              }
            if (better) { best = k; bestNum = num; bestDen = den }
          }
        }
        if (best == null) exhausted = true
        else {
        val merged = best._1 +
          (if (best._2.startsWith("##")) best._2.substring(2) else best._2)
        vocab.add(merged)
        words = words.map { case (ps, c) =>
          if (ps.length < 2) (ps, c)
          else {
            val out = collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < ps.length) {
              if (i < ps.length - 1 && ps(i) == best._1 &&
                  ps(i + 1) == best._2) {
                out += merged; i += 2
              } else { out += ps(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
        m += 1
        }
      }
    }
    if (byteFallback)
      // seed the 256 byte tokens: real vocabulary members (persisted,
      // id-addressable) the matcher never text-matches
      graft.expr.ByteTokens.tokens.foreach(vocab.add)
    new WordPieceModel(vocab.toArray.sorted, byteFallback)
  }

  /** Marker row re-arming byte-fallback on reload (the BPE −2-row
    * convention). Structurally collision-free: vocabulary pieces come
    * from `split(text, "\\s+")` tokens (plus `##` continuations of them)
    * so no trained piece can ever contain a space.
    */
  private[ops] val FallbackMarker: String = "<byte fallback>"

  /** The model as a (piece) DataFrame — the persisted-twin snapshot
    * shape. Greedy longest-match has no scores or order: the piece SET
    * is the whole model. Byte-fallback models additionally carry the
    * [[FallbackMarker]] row so the snapshot self-describes — reloading
    * with the default flag cannot silently regress encode to `[UNK]` or
    * let the trie text-match the persisted byte-token pieces.
    */
  def modelToDf(spark: org.apache.spark.sql.SparkSession,
                model: WordPieceModel): DataFrame = {
    import spark.implicits._
    val rows = if (model.byteFallback) model.vocab.toSeq :+ FallbackMarker
               else model.vocab.toSeq
    rows.toDF("piece")
  }

  /** Rebuild from the snapshot (vocabulary-sized collect). The
    * [[FallbackMarker]] row re-arms byte-fallback regardless of the flag
    * argument; passing `byteFallback = true` for a snapshot with neither
    * the marker nor the 256 seeded byte tokens fails loudly instead of
    * silently changing encode semantics.
    */
  def modelFromDf(df: DataFrame,
                  byteFallback: Boolean = false): WordPieceModel = {
    val rows = df.select(col("piece")).collect().map(_.getString(0))
    val marked = rows.contains(FallbackMarker)
    val vocab = rows.filter(_ != FallbackMarker).sorted
    if (byteFallback && !marked) {
      val have = vocab.toSet
      require(graft.expr.ByteTokens.tokens.forall(have),
        "byteFallback=true but the snapshot carries neither the fallback " +
          "marker row nor the 256 seeded byte tokens — it was not trained " +
          "with byte_fallback; refusing to arm the fallback path")
    }
    new WordPieceModel(vocab, marked || byteFallback)
  }

  /** Pieces carry the `##` continuation prefix (the vocabulary form);
    * decode strips it only at continuation POSITIONS (i > 0): a token
    * whose text literally starts with "##" emits that as its word-initial
    * piece, which must survive decode verbatim. Exact whenever no token
    * fell to `[UNK]` — training seeds every corpus codepoint, so the
    * gated run has none; a hostile unseen codepoint is the documented
    * lossy case, spec-covered.
    */
  override protected def joinPieces(ps: Column): Column =
    concat_ws("", transform(ps, (p, i) => when(i === 0, p)
      .otherwise(regexp_replace(p, lit("^##"), lit("")))))
}
