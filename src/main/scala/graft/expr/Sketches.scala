package graft.expr

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import KernelCall.Longs

/** Single-pass sketch kernels for the dedup family, run by [[KernelCall]].
  *
  * Round-1 built these sketches from higher-order functions — correct, but
  * `simhash` cost 64 array passes per row and `minhash` 128 (and HOFs are
  * CodegenFallback anyway). These kernels make ONE pass over the
  * token-hash array per row, all slots updated in a tight compiled loop.
  *
  * The hash inputs are 40-bit md5-derived token hashes
  * (TextFunctions.tokenHash40) and the per-slot mixing is pure int64
  * arithmetic — deliberately so: the exact same math is replicable in the
  * DuckDB oracle (md5 + `(a*h+b) % 2^40`), which is what turns "the sketch
  * looks right" into a hash-matched correctness row.
  */
object MinHashConsts {
  /** Modulus 2^40: with h < 2^40 and a < 2^20, a*h + b < 2^61 — no int64
    * overflow on either engine (DuckDB BIGINT arithmetic is checked, so
    * silent-wrap tricks are not portable).
    */
  val M: Long = 1L << 40
  /** Deterministic per-slot multipliers (odd, < 2^20) and offsets (< 2^40) —
    * a fixed universal-hash family; the literal values are interpolated
    * into the oracle SQL so both engines use identical constants.
    */
  def a(i: Int): Long = ((2654435761L * (i + 1)) & 0xFFFFFL) | 1L
  def b(i: Int): Long = (1099087573L * (i + 1)) & (M - 1)
}

/** sig[i] = min over input hashes h of (a_i·h + b_i) mod 2^40, i < k.
  * Null elements are skipped; empty input yields the all-M sentinel
  * signature (no shingles ⇒ matches nothing).
  */
case class MinHashSig(k: Int) extends Kernel1[ArrayData, ArrayData] {
  def prettyName: String = "graft_minhash_sig"
  def inputType: DataType = Longs
  def dataType: DataType = Longs

  private val as: Array[Long] = Array.tabulate(k)(MinHashConsts.a)
  private val bs: Array[Long] = Array.tabulate(k)(MinHashConsts.b)

  def apply(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(k)(MinHashConsts.M)
    var idx = 0
    while (idx < n) {
      if (!arr.isNullAt(idx)) {
        val h = arr.getLong(idx)
        var i = 0
        while (i < k) {
          val v = (as(i) * h + bs(i)) % MinHashConsts.M
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      idx += 1
    }
    new GenericArrayData(sig)
  }
}

/** SimHash over an array of token hashes: bit i of the result (i < bits) is
  * the majority vote of bit i across the hashes (Charikar '02). One pass,
  * `bits` counters. Null elements skipped; empty input → 0.
  */
case class SimHash(bits: Int) extends Kernel1[ArrayData, Long] {
  require(bits > 0 && bits <= 63, s"simhash bits must be in [1,63], got $bits")
  def prettyName: String = "graft_simhash"
  def inputType: DataType = Longs
  def dataType: DataType = LongType

  def apply(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](bits)
    var idx = 0
    var total = 0
    while (idx < n) {
      if (!arr.isNullAt(idx)) {
        val h = arr.getLong(idx)
        var i = 0
        while (i < bits) {
          counts(i) += ((h >>> i) & 1L).toInt
          i += 1
        }
        total += 1
      }
      idx += 1
    }
    var out = 0L
    var i = 0
    while (i < bits) {
      if (2 * counts(i) > total) out |= (1L << i)
      i += 1
    }
    out
  }
}
