package graft.expr

import org.apache.spark.sql.types.{DataType, LongType}

/** Integer-exact fixed-point log2: floor-ish 2^20-scaled binary logarithm
  * of a positive long, computed with ONLY integer shifts/multiplies so the
  * DuckDB oracle replays it bit-for-bit (see
  * [[graft.queries.ModelOracle.log2fp]] — the same shift-and-square loop as
  * a `list_reduce` fold).
  *
  * This is the primitive that makes log-space model arithmetic
  * hash-gatable: `ln`/`log` are transcendental, and libm results differ
  * between the JVM and DuckDB in the last ulp, so any oracle comparing
  * floating logs is one boundary-rounding away from a flaky mismatch. The
  * fixed-point variant trades ~1e-6 absolute accuracy (measured over 2000
  * random 63-bit inputs) for determinism — the same trade the curation
  * family's fixed-point k-means makes (ops/KMeans.scala).
  *
  * Algorithm (the classic shift-and-square binary-digit recurrence):
  *   n = floor(log2 x); mantissa y = x normalized to [2^30, 2^31)
  *   repeat F=20 times: y = (y*y) >> 30; emit bit (y >= 2^31), halving y
  *   result = (n << 20) | bits
  * Mantissa truncation to 31 bits bounds |result/2^20 - log2 x| below
  * ~1e-6; the BOUND is approximate but the VALUE is a pure function of x's
  * top bits, identical on any engine running the same integer steps.
  *
  * Null semantics: x <= 0 → null (domain error, poisons like 1/0 in SQL).
  * Used by the model-filter family (ops/ModelFilter.scala): Naive Bayes
  * log-likelihoods, stupid-backoff LM scores, DSIR importance log-ratios.
  */
case object Log2Fp extends Kernel1[Long, java.lang.Long] {
  def prettyName: String = "graft_log2fp"
  def inputType: DataType = LongType
  def dataType: DataType = LongType
  override def nullable: Boolean = true

  def apply(x: Long): java.lang.Long = if (x <= 0L) null else compute(x)

  /** Fraction bits of the fixed-point result. */
  val F: Int = 20

  /** floor-ish(2^20 * log2 x) for x >= 1 — the exact integer recurrence the
    * oracle replays. Called per row (hot path: one call per (token, class)
    * row in NB scoring), so it stays a branch-light loop the JIT inlines.
    */
  def compute(x: Long): Long = {
    val n = 63 - java.lang.Long.numberOfLeadingZeros(x)
    var y = if (n >= 30) x >>> (n - 30) else x << (30 - n)
    var r = 0L
    var i = 0
    while (i < F) {
      y = (y * y) >>> 30
      r <<= 1
      if (y >= (1L << 31)) { y >>>= 1; r |= 1L }
      i += 1
    }
    (n.toLong << F) | r
  }

  /** Fixed-point log2 of a rational p/q (both >= 1): compute(p)-compute(q).
    * Convenience for driver-side constants (e.g. the stupid-backoff alpha
    * log2(0.4) = compute(4) - compute(10) = -1386142).
    */
  def ratio(p: Long, q: Long): Long = compute(p) - compute(q)
}
