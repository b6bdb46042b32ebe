package graft.expr

/** A trained subword tokenizer: its own per-word algorithm ([[segment]])
  * behind one bounded word cache, fed to the one encode kernel
  * ([[SubwordEncode]]). Natural-language corpora repeat words heavily —
  * the same trick as GPT-2's encoder cache — so [[encodeWord]] memoizes;
  * the cache is per-model, thread-safe, and capped so a
  * hostile-vocabulary corpus cannot OOM an executor.
  */
abstract class SubwordModel extends Serializable {
  /** SQL name of this model's encode kernel. */
  def encodeName: String

  /** The pieces of one word, uncached. */
  protected def segment(word: String): Array[String]

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** The pieces of one word, memoized in the bounded cache. */
  final def encodeWord(word: String): Array[String] = {
    val hit = cache.get(word)
    if (hit != null) return hit
    val pieces = segment(word)
    if (cache.size < SubwordModel.CacheCap) cache.put(word, pieces)
    pieces
  }
}

object SubwordModel {
  private val CacheCap = 50000
}

/** Byte-pair-encoding merge table + the per-word greedy encoder (Sennrich
  * et al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units"; the same apply-lowest-rank-merge-first rule GPT-2's byte-level
  * encoder uses). A word's symbols start as its characters (Unicode code
  * points); merges apply lowest-RANK first, leftmost occurrence first,
  * until no adjacent pair is in the table. No end-of-word marker: word
  * boundaries are preserved STRUCTURALLY (the encode expression returns
  * pieces nested per token), so decode is exact for any token — including
  * ones containing angle brackets or control characters that a sentinel
  * marker scheme ('</w>', U+0001) would corrupt.
  */
final class BpeModel(val merges: Array[(String, String)],
                     val byteFallback: Boolean = false,
                     val alphabet: Array[String] = Array.empty)
    extends SubwordModel {
  def encodeName: String = "graft_bpe_encode"

  /** Known single-codepoint symbols (byte-fallback mode): a final piece
    * outside this set and outside the merge outputs decomposes to byte
    * tokens, closing the vocabulary at alphabet ∪ merges ∪ byte tokens.
    */
  @transient private lazy val alphaSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](alphabet.length * 2)
    alphabet.foreach(s.add)
    s
  }
  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      m.put(merges(i)._1 + "\u0000" + merges(i)._2, i)
      i += 1
    }
    m
  }
  /** Greedy encode of one word: repeatedly merge the lowest-rank adjacent
    * pair (leftmost on rank ties) until none remains in the table.
    */
  protected def segment(word: String): Array[String] = {
    var pieces: Array[String] =
      word.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var done = pieces.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i < pieces.length - 1) {
        val r = rank.get(pieces(i) + "\u0000" + pieces(i + 1))
        if (r != null && r < bestRank) { bestRank = r; bestAt = i }
        i += 1
      }
      if (bestAt < 0) done = true
      else {
        val merged = new Array[String](pieces.length - 1)
        System.arraycopy(pieces, 0, merged, 0, bestAt)
        merged(bestAt) = pieces(bestAt) + pieces(bestAt + 1)
        System.arraycopy(pieces, bestAt + 2, merged, bestAt + 1,
          pieces.length - bestAt - 2)
        pieces = merged
        done = pieces.length < 2
      }
    }
    if (byteFallback) {
      // closed-vocabulary pass: any remaining SINGLE-codepoint piece not
      // in the training alphabet decomposes to byte tokens (multi-
      // codepoint pieces are merge outputs, in vocabulary by
      // construction). Runs after merging so in-alphabet text is
      // untouched and existing gates see identical pieces.
      var needs = false
      var i = 0
      while (i < pieces.length && !needs) {
        val p = pieces(i)
        if (p.codePointCount(0, p.length) == 1 && !alphaSet.contains(p))
          needs = true
        i += 1
      }
      if (needs) {
        val out = collection.mutable.ArrayBuffer.empty[String]
        pieces.foreach { p =>
          if (p.codePointCount(0, p.length) == 1 && !alphaSet.contains(p))
            out ++= ByteTokens.encodeCp(p.codePointAt(0))
          else out += p
        }
        pieces = out.toArray
      }
    }
    pieces
  }
}

/** Unigram-LM tokenizer model (Kudo 2018, "Subword Regularization" — the
  * SentencePiece unigram algorithm) in the engine's integer-exact
  * discipline: piece scores are [[Log2Fp]] fixed-point log2-probabilities
  * (Longs in units of 2^-20), and segmentation is Viterbi — the maximal
  * total-score split of a word into vocabulary pieces, computed by the
  * standard O(n·maxLen) dynamic program over codepoint positions.
  *
  * Characters absent from the vocabulary segment as single-codepoint UNK
  * pieces at [[unkScore]] — a floor 10 log2-units below the worst real
  * piece, so Viterbi only ever uses it when no vocabulary piece can cover
  * a position. This keeps decode EXACT for any input (the piece sequence
  * always concatenates back to the word), which is what the corpus-wide
  * round-trip oracle gates.
  *
  * Determinism: scores are integers, the DP iterates candidate piece
  * lengths ascending with strict improvement required to replace, so tie
  * breaks prefer the shortest final piece — a pure function of the model,
  * identical on every executor and every run.
  */
final class UnigramModel(val pieces: Array[(String, Long)],
                         val byteFallback: Boolean = false)
    extends SubwordModel {
  def encodeName: String = "graft_unigram_encode"

  /** Piece trie — scores at terminal nodes. The DP walks it forward from
    * each start position, so per-position cost is bounded by the longest
    * vocabulary path the text actually follows (and stops at the first
    * dead codepoint), not by the longest entry of a hostile persisted
    * vocabulary. Byte-fallback mode excludes byte tokens from the trie:
    * they are emitted by the fallback path only, never text-matched, so
    * literal `<0x41>` text cannot round-trip to `A`.
    */
  @transient private lazy val trie: CpTrie = {
    val t = new CpTrie
    var i = 0
    while (i < pieces.length) {
      if (!(byteFallback && ByteTokens.isByteToken(pieces(i)._1)))
        t.insert(pieces(i)._1, pieces(i)._2)
      i += 1
    }
    t
  }
  /** Longest piece in codepoints — the worst-case DP scan depth
    * (diagnostic; the trie walk self-bounds and typically dies earlier).
    */
  @transient lazy val maxLen: Int =
    if (pieces.isEmpty) 1
    else math.max(1,
      pieces.iterator.map(p => p._1.codePointCount(0, p._1.length)).max)
  /** UNK floor: 10 log2-units below the worst vocabulary piece (or a
    * plain -2^F·10 for an empty model). Derived from the scores, so a
    * persisted model reconstructs the identical value.
    */
  @transient lazy val unkScore: Long =
    (if (pieces.isEmpty) 0L else pieces.map(_._2).min) - (10L << Log2Fp.F)

  /** Viterbi segmentation of one word into vocabulary pieces (UNK
    * single codepoints where nothing covers). Always succeeds; the
    * concatenation of the result is exactly `word`.
    */
  protected def segment(word: String): Array[String] = {
    val cps: Array[Int] = word.codePoints().toArray
    val n = cps.length
    if (n == 0) return Array.empty
    val dp = new Array[Long](n + 1)
    val back = new Array[Int](n + 1) // length of the best piece ending at i
    val unkAt = new Array[Boolean](n + 1) // best piece ending at i is UNK
    java.util.Arrays.fill(dp, Long.MinValue)
    dp(0) = 0L
    // Forward relaxation, one trie walk per start position. For a fixed
    // END position the candidates arrive start-ascending = length-
    // DESCENDING, so the >= replacement rule below keeps the original
    // tie-break (shortest final piece wins equal scores): the last
    // candidate to relax an end position is the shortest one, exactly the
    // piece the old ascending-length strict-> loop would have kept.
    var j = 0
    while (j < n) {
      if (dp(j) != Long.MinValue) {
        var node = trie.root
        var k = j
        var sawL1 = false
        var live = true
        while (live && k < n) {
          node = node.child(cps(k))
          if (node == null) live = false
          else {
            k += 1
            val l = k - j
            if (l == 1) sawL1 = true
            // at length 1 a non-vocabulary codepoint still relaxes (the
            // single-codepoint UNK floor); beyond that only real pieces do
            if (node.terminal || l == 1) {
              val sc = if (node.terminal) node.score else unkScore
              val cand = dp(j) + sc
              if (cand >= dp(j + l)) {
                dp(j + l) = cand; back(j + l) = l
                unkAt(j + l) = !node.terminal
              }
            }
          }
        }
        if (!sawL1) { // trie died immediately: UNK single codepoint
          val cand = dp(j) + unkScore
          if (cand >= dp(j + 1)) {
            dp(j + 1) = cand; back(j + 1) = 1; unkAt(j + 1) = true
          }
        }
      }
      j += 1
    }
    val out = collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) {
      val l = back(p)
      if (byteFallback && l == 1 && unkAt(p))
        // byte-fallback: the uncovered codepoint decomposes to the byte
        // tokens of its UTF-8 encoding (appended reversed — the whole
        // buffer flips below)
        ByteTokens.encodeCp(cps(p - 1)).reverseIterator.foreach(out += _)
      else out += new String(cps, p - l, l)
      p -= l
    }
    out.reverse.toArray
  }
}

/** WordPiece tokenizer model (Schuster & Nakajima 2012; the BERT runtime
  * convention, Devlin et al. 2019): a vocabulary of word-initial pieces
  * and `##`-prefixed continuation pieces, encoded by GREEDY
  * LONGEST-MATCH-FIRST — at each cursor take the longest vocabulary piece
  * (word-initial form at position 0, `##` form after), emit, advance. A
  * word containing a codepoint the vocabulary cannot cover at some cursor
  * encodes as the single `[UNK]` piece — the BERT convention, and the ONE
  * lossy case (documented; the gated corpus round-trip never hits it
  * because training seeds every corpus codepoint, initial and
  * continuation forms both).
  *
  * Deterministic by construction (a set lookup per candidate length,
  * longest wins, no scores), so the corpus-wide decode∘encode oracle
  * hash-gates the train+encode path like the BPE and unigram twins.
  */
final class WordPieceModel(val vocab: Array[String],
                           val byteFallback: Boolean = false)
    extends SubwordModel {
  def encodeName: String = "graft_wordpiece_encode"

  /** Word-initial matcher: every vocabulary piece verbatim — including
    * pieces that literally start with `##` (hostile markdown-ish tokens
    * can produce them), which at position 0 match as themselves.
    * Byte-fallback mode excludes byte tokens: they are emitted by the
    * fallback path only, never text-matched, so literal `<0x41>` text
    * cannot round-trip to `A`.
    */
  @transient private lazy val initTrie: CpTrie = {
    val t = new CpTrie
    vocab.foreach { p =>
      if (!(byteFallback && ByteTokens.isByteToken(p))) t.insert(p, 0L)
    }
    t
  }
  /** Continuation matcher: the BODY (marker stripped) of every
    * `##`-prefixed piece — a cursor past position 0 matches bodies and
    * re-attaches the marker on emit.
    */
  @transient private lazy val contTrie: CpTrie = {
    val t = new CpTrie
    vocab.foreach { p =>
      if (p.length > 2 && p.startsWith("##") &&
          !(byteFallback && ByteTokens.isByteToken(p.substring(2))))
        t.insert(p.substring(2), 0L)
    }
    t
  }
  /** Codepoint length of the longest piece — the worst-case scan depth
    * (diagnostic; the trie walk self-bounds and typically dies earlier).
    */
  @transient lazy val maxLen: Int =
    if (vocab.isEmpty) 1
    else math.max(1,
      vocab.iterator.map(p => p.codePointCount(0, p.length)).max)

  val Unk = "[UNK]"

  /** Greedy longest-match-first segmentation; Array(Unk) when some cursor
    * position has no matching piece. One trie walk per cursor position —
    * no candidate substrings are materialized, and the walk stops at the
    * first codepoint no vocabulary piece extends past, so a hostile
    * persisted vocabulary with one enormous entry cannot degrade the
    * scan (it only deepens the one path that actually matches it).
    */
  protected def segment(word: String): Array[String] = {
    val cps: Array[Int] = word.codePoints().toArray
    val n = cps.length
    if (n == 0) return Array.empty
    val out = collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    var failed = false
    while (i < n && !failed) {
      var node = (if (i == 0) initTrie else contTrie).root
      var k = i
      var best = 0 // deepest terminal depth seen
      while (node != null && k < n) {
        node = node.child(cps(k))
        if (node != null) {
          k += 1
          if (node.terminal) best = k - i
        }
      }
      if (best == 0) {
        if (byteFallback) {
          // the uncovered codepoint decomposes to byte tokens (emitted
          // bare — never ##-prefixed — at any position) and the greedy
          // scan continues: [UNK] is impossible in fallback mode
          out ++= ByteTokens.encodeCp(cps(i))
          i += 1
        } else failed = true
      } else {
        val body = new String(cps, i, best)
        out += (if (i == 0) body else "##" + body)
        i += best
      }
    }
    if (failed) Array(Unk) else out.toArray
  }
}
