package graft.expr

import java.math.BigInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Arbitrary-precision integers for dataset_type's `number` family, matching
  * the reference's bound: ints up to ±(2^1007 − 1)
  * (/root/reference/accelerator/standard_methods/dataset_type.py:804 — its
  * 128-byte storage format). Spark has no bignum type, so the canonical
  * representation is a STRING: optional '-', digits with no leading zeros,
  * zero is "0" (never "-0", never "+0"). Canonical strings are unique per
  * value, which makes exact equality, grouping, and dedup work with plain
  * string semantics; ordering needs the sortable-key transform in
  * `graft.functions.BigNumFunctions.sortKey`.
  */
object BigNumHelper {
  /** reference limit: ±(2^1007 − 1) */
  val MaxBits = 1007
  private val Limit: BigInteger =
    BigInteger.ONE.shiftLeft(MaxBits).subtract(BigInteger.ONE)
  /** 2^1007−1 has 304 decimal digits: ≤303 digits always fits, ≥305 never */
  private val DigitsAlwaysOk = 303
  private val DigitsNeverOk = 305

  /** Canonicalize an integer string, or null for anything that is not an
    * optionally-signed decimal integer within ±(2^1007−1) — null is the
    * dataset_type "bad value" signal, so filter_bad/defaults apply as for
    * every other type. Runs without BigInteger allocation except in the
    * single boundary digit count (304 digits).
    */
  def canon(s: UTF8String): UTF8String = {
    if (s == null) return null
    val t = s.toString.trim
    if (t.isEmpty) return null
    var i = 0
    val neg = t.charAt(0) == '-'
    if (neg || t.charAt(0) == '+') i = 1
    if (i >= t.length) return null
    var j = i
    while (j < t.length) {
      val c = t.charAt(j)
      if (c < '0' || c > '9') return null
      j += 1
    }
    // strip leading zeros
    var d = i
    while (d < t.length - 1 && t.charAt(d) == '0') d += 1
    val digits = t.substring(d)
    val nDigits = digits.length
    if (nDigits >= DigitsNeverOk) return null
    if (nDigits > DigitsAlwaysOk &&
        new BigInteger(digits).compareTo(Limit) > 0) return null
    if (digits == "0") UTF8String.fromString("0")
    else UTF8String.fromString(if (neg) "-" + digits else digits)
  }
}

/** dataset_type `number:bignum` — exact integer canonicalization beyond
  * DECIMAL(38,0), to the reference's ±(2^1007−1) ([[BigNumHelper.canon]]).
  * A scan-side kernel; invalid or out-of-range input nulls out (bad
  * value).
  */
case object BigNumCanon extends Kernel1[UTF8String, UTF8String] {
  def prettyName: String = "graft_bignum_canon"
  def inputType: DataType = StringType
  def dataType: DataType = StringType
  override def nullable: Boolean = true

  def apply(s: UTF8String): UTF8String = BigNumHelper.canon(s)
}

/** Exact arbitrary-precision SUM over canonical bignum strings — the
  * aggregate DECIMAL(38,0) cannot express (a 100 TB ledger of 30-digit
  * values overflows decimal SUM long before the data ends). Buffer is ONE
  * BigInteger per group; partial aggregation applies (map-side partial
  * sums, two's-complement byte serialization between stages), so the
  * shuffle carries one number per group per partition. SQL SUM null
  * semantics: nulls ignored, empty/all-null group → null.
  */
case class BigNumSum(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BigInteger] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a canonical bignum string child, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bignum_sum"

  // null buffer = "no rows seen yet" (SQL SUM of an empty set is null)
  override def createAggregationBuffer(): BigInteger = null

  override def update(buffer: BigInteger, input: InternalRow): BigInteger = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val x = new BigInteger(v.asInstanceOf[UTF8String].toString)
      if (buffer == null) x else buffer.add(x)
    }
  }

  override def merge(buffer: BigInteger, other: BigInteger): BigInteger =
    if (buffer == null) other
    else if (other == null) buffer
    else buffer.add(other)

  override def eval(buffer: BigInteger): Any =
    if (buffer == null) null else UTF8String.fromString(buffer.toString)

  override def serialize(buffer: BigInteger): Array[Byte] =
    if (buffer == null) Array.emptyByteArray else buffer.toByteArray

  override def deserialize(bytes: Array[Byte]): BigInteger =
    if (bytes.isEmpty) null else new BigInteger(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BigNumSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BigNumSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BigNumSum =
    copy(child = newChild)
}
