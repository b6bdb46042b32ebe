package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Integer-exact Shannon entropy of a symbol multiset, in the repo's
  * fixed-point log2 units ([[Log2Fp]], 2^-20):
  *
  *   ent_fp = Σ_k c_k · (log2fp(n) − log2fp(c_k)),   n = Σ_k c_k
  *
  * which is n · H(distribution) · 2^20 computed entirely in Long
  * arithmetic — so the signal hash-gates under a DuckDB replay of the
  * same recurrence (the [[ModelFilter]] discipline applied to a quality
  * signal). Entropy over characters flags gibberish / binary-ish /
  * boilerplate-repetitive text (low char diversity ⇒ low entropy per
  * symbol), over tokens it is the vocabulary-diversity gate quality
  * filters use beside the distinct-token ratio (a ratio cannot tell a
  * two-token coin-flip document from a uniform-vocabulary one; entropy
  * can). Per-symbol entropy is the trivial downstream `ent_fp div n`.
  *
  * Scale: one pass per row inside whole-stage codegen, a bounded
  * per-document symbol map, no explode, no shuffle — the token/char
  * arrays never leave the scan stage. Overflow bound: each term
  * c_k·log2fp(n) ≤ n·63·2^20, so documents to ~2^37 symbols are exact
  * in a Long; addExact guards the impossible rest.
  */
object EntropyFp {

  /** struct(n, ent_fp) of a symbol multiset given as its counts. */
  def of(counts: java.util.HashMap[_, Long]): InternalRow = {
    var n = 0L
    val it0 = counts.values().iterator()
    while (it0.hasNext) n = Math.addExact(n, it0.next())
    if (n == 0L) return InternalRow(0L, 0L)
    val ln = Log2Fp.compute(n)
    var ent = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      ent = Math.addExact(ent,
        Math.multiplyExact(c, ln - Log2Fp.compute(c)))
    }
    InternalRow(n, ent)
  }

  val EntropyType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("ent_fp", LongType, nullable = false)))
}

/** Code-point entropy of a string: struct(n_codepoints, ent_fp) over its
  * Unicode code points — combining marks count separately (DuckDB's
  * per-char split uses the same convention, so the replay is exact). It
  * never returns null for a non-null string; the result stays declared
  * nullable, as it always was.
  */
case object Utf8EntropyFp extends Kernel1[UTF8String, InternalRow] {
  def prettyName: String = "graft_char_entropy_fp"
  def inputType: DataType = StringType
  def dataType: DataType = EntropyFp.EntropyType
  override def nullable: Boolean = true

  def apply(s: UTF8String): InternalRow = {
    val counts = new java.util.HashMap[Integer, Long]()
    val str = s.toString
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      i += Character.charCount(cp)
    }
    EntropyFp.of(counts)
  }
}

/** Entropy of an array<string> symbol multiset: struct(n_tokens, ent_fp);
  * null elements are skipped (the tokenizer never emits them, but hostile
  * arrays must not crash the scan). Declared nullable like
  * [[Utf8EntropyFp]].
  */
case object StringArrayEntropyFp extends Kernel1[ArrayData, InternalRow] {
  def prettyName: String = "graft_token_entropy_fp"
  def inputType: DataType = KernelCall.Strings
  def dataType: DataType = EntropyFp.EntropyType
  override def nullable: Boolean = true

  def apply(a: ArrayData): InternalRow = {
    val counts = new java.util.HashMap[String, Long]()
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) {
        counts.merge(a.getUTF8String(i).toString, 1L, (x, y) => x + y)
      }
      i += 1
    }
    EntropyFp.of(counts)
  }
}
