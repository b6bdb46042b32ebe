package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expr.{DotProduct, KernelCall, MinHashSig, PositionedShingleHashes,
  ShingleHashes, SimHash, TokenHashes}

/** Similarity primitives for dedup / nearest-neighbor over text shingles and
  * embedding vectors. Column combinators only — higher-order functions
  * (transform/aggregate/zip_with) keep everything inside Catalyst.
  */
object SimilarityFunctions {

  /** Word n-gram shingles (distinct), joined with '\u0001'. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = TextFunctions.tokens(TextFunctions.normalized(text))
    array_distinct(
      when(size(toks) < n, array(concat_ws("\u0001", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws("\u0001", slice(toks, i + 1, lit(n))))))
  }

  /** Jaccard similarity of two shingle arrays (set semantics). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Distinct 40-bit shingle hashes straight from the text — fused
    * single-pass kernel (graft.expr.ShingleHashes); value-identical
    * to array_distinct(transform(wordShingles(text, n), tokenHash40)).
    */
  def shingleHashes(text: Column, n: Int): Column =
    KernelCall.column(TextFunctions.tokens(TextFunctions.normalized(text)),
      ShingleHashes(n))

  /** Positioned (non-distinct) 60-bit n-gram hashes over a token array:
    * element j hashes tokens j..j+n-1; empty when the doc has fewer than n
    * tokens. Fused single-pass kernel
    * (graft.expr.PositionedShingleHashes) — feeds span-level dedup, where
    * a duplicated hash must map back to the token positions it covers.
    */
  def positionedShingleHashes(toks: Column, n: Int): Column =
    KernelCall.column(toks, PositionedShingleHashes(n))

  /** Per-token 40-bit hashes, fused (graft.expr.TokenHashes). */
  def tokenHashes40(toks: Column): Column =
    KernelCall.column(toks, TokenHashes(40))

  /** MinHash signature over string shingles: sig[i] = min over shingles of
    * (a_i·h40(s) + b_i) mod 2^40 — the standard estimator (Broder '97),
    * Pr[sig_a[i] == sig_b[i]] = J(a,b). Single-pass kernel
    * (graft.expr.MinHashSig); hashing is md5-derived so the DuckDB oracle
    * replicates it exactly.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    minhashSignatureHashed(
      transform(shingles, s => TextFunctions.tokenHash40(s)), k)

  /** Same, over pre-hashed (long) shingles. */
  def minhashSignatureHashed(hashes: Column, k: Int): Column =
    KernelCall.column(hashes, MinHashSig(k))

  /** Estimated Jaccard from two signatures: fraction of agreeing slots. */
  def minhashEstimate(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), b => b))
      .cast("double") / size(sigA).cast("double")

  /** SimHash-40 over token arrays: per-token 40-bit md5-derived hash,
    * bitwise majority vote (Charikar '02 / Manku et al. '07). Near-dup
    * docs differ in few bits. Single-pass kernel (graft.expr.SimHash);
    * 40 bits so the oracle's int64 arithmetic replicates bit-for-bit.
    */
  def simhash40(toks: Column): Column =
    KernelCall.column(tokenHashes40(toks), SimHash(40))

  /** SimHash-60: the wide twin of [[simhash40]] (per-token hash = first
    * 15 md5 hex digits, the Md5Hash60/fingerprint formulation, so the
    * oracle's int64 arithmetic still replicates bit-for-bit). With the
    * default 5-block pigeonhole this gives 12-bit pieces → 24-bit
    * 2-block band keys: 2^8 more key space per table than the 40-bit
    * sketch — the corpus-size dial for the banded self-join's random
    * (birthday) candidate collisions, which grow ~N²/keyspace
    * (measured compounding at fixed 40 bits: shuffle slope 1.467 at
    * x10 → 1.596 at x100, SCALE_CHECK).
    */
  def simhash60(toks: Column): Column =
    KernelCall.column(KernelCall.column(toks, TokenHashes(60)), SimHash(60))

  /** Hamming distance between two 64-bit-or-narrower hashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Dot product of two double arrays — sequential fold so the DuckDB
    * oracle (list_dot_product) and Spark agree bit-for-bit. Single-pass
    * kernel (graft.expr.DotProduct).
    */
  def dot(a: Column, b: Column): Column =
    // coerce to array<double> here: the kernel reads 8-byte doubles, so an
    // array<float>/array<int> input must be cast (the HOF formulation
    // coerced implicitly; a redundant cast is erased by Catalyst, so
    // double inputs pay nothing)
    KernelCall.column(a.cast("array<double>"), b.cast("array<double>"), DotProduct)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, computed as dot/(‖a‖·‖b‖) in doubles. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))
}
