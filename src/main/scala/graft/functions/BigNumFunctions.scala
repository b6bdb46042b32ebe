package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._
import graft.expr.{BigNumCanon, BigNumSum, KernelCall}

/** Column API over the bignum expressions (graft.expr.BigNum): exact
  * integers beyond DECIMAL(38,0), up to the reference's ±(2^1007 − 1)
  * (dataset_type.py:804), represented as canonical strings.
  */
object BigNumFunctions {

  /** Canonical bignum from arbitrary text: optional '-', no leading zeros,
    * zero is "0"; non-integers and magnitudes ≥ 2^1007 null out (bad
    * value). A scan-side kernel.
    */
  def canon(c: Column): Column = KernelCall.column(c, BigNumCanon)

  /** A string whose LEXICOGRAPHIC order equals the NUMERIC order of the
    * canonical bignum it was derived from — so ORDER BY / min / max /
    * range-partitioning on bignums work with plain string comparison (and
    * therefore sort-merge machinery, bounded heaps, zone maps...).
    *
    * Layout: sign class ('0' negatives, '1' non-negatives), then a 4-digit
    * length field, then digits. Among negatives the length field is
    * complemented (9999−len: longer negative = smaller value = smaller
    * key) and the digits are 9's-complemented via `translate`. Max 304
    * digits < 9999, so the length field never saturates. Pure built-in
    * string functions — whole-stage codegen, no UDF.
    */
  def sortKey(c: Column): Column = {
    val neg = c.startsWith("-")
    val digits = when(neg, c.substr(lit(2), length(c))).otherwise(c)
    val len = length(digits)
    when(c.isNull, lit(null).cast("string"))
      .when(neg, concat(lit("0"), lpad((lit(9999) - len).cast("string"), 4, "0"),
        translate(digits, "0123456789", "9876543210")))
      .otherwise(concat(lit("1"), lpad(len.cast("string"), 4, "0"), digits))
  }

  /** Exact SUM of canonical bignum strings (null-ignoring, null for empty
    * groups) — a TypedImperativeAggregate holding one BigInteger per
    * group, with normal map-side partial aggregation.
    */
  def sum(c: Column): Column =
    GraftBridge.column(BigNumSum(GraftBridge.expression(c)).toAggregateExpression())
}
