package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cols.{q => Q}

/** dataset_checksum (reference standard_methods/a_dataset_checksum.py:47-127):
  * an order- and slicing-independent fingerprint of a dataset, used as the
  * e2e equality primitive.
  *
  * The reference md5s each row's canonical byte encoding, sorts digests per
  * slice, then md5s the concatenation. Sorting all digests doesn't
  * distribute (it is exactly the reference's "64 B RAM per line" ceiling,
  * a_dataset_checksum.py:35-36) — so we keep the per-row md5 but combine
  * with a commutative reduction instead: the SUM of the digest interpreted
  * as two 60-bit integers (exact DECIMAL(38,0) sums — no overflow until
  * ~10^20 rows). Sum is order/slicing independent, collision-resistant
  * enough for equality testing, map-side combinable, and constant-memory.
  *
  * `sort=false` (order-sensitive mode) folds an explicit order column into
  * each row's digest instead — same commutative combine, but any reorder
  * changes the sum.
  */
object DatasetChecksum {

  /** Canonical per-row digest: md5 over the JSON encoding of the selected
    * columns in sorted-name order (JSON gives unambiguous typed encoding +
    * null marking; reference canonicalizes json with sorted keys,
    * a_dataset_checksum.py:60-75).
    */
  private def rowDigest(df: DataFrame, columns: Seq[String], orderCol: Option[String]): Column = {
    val cols = (if (columns.nonEmpty) columns else df.columns.toSeq).sorted
    val payload = struct(cols.map(Q) ++ orderCol.map(Q).toSeq: _*)
    md5(to_json(payload))
  }

  /** Each row's digest as two 60-bit longs, (hi, lo): its hex digits 1-15
    * and 17-31.
    */
  private def halves(df: DataFrame, columns: Seq[String], sort: Boolean,
                     orderCol: Option[String]): DataFrame = {
    require(sort || orderCol.isDefined,
      "order-sensitive checksum needs an explicit order column")
    val digest = rowDigest(df, columns, if (sort) None else orderCol)
    df.select(conv(substring(digest, 1, 15), 16, 10).cast("long").as("hi"),
      conv(substring(digest, 17, 15), 16, 10).cast("long").as("lo"))
  }

  /** One-row DataFrame: (sum_hi, sum_lo, lines). Equal datasets (as
    * multisets of rows) ⇒ equal checksums regardless of partitioning or
    * row order. An empty dataset gives (0, 0, 0).
    */
  def apply(df: DataFrame, columns: Seq[String] = Nil, sort: Boolean = true,
            orderCol: Option[String] = None): DataFrame = {
    def total(c: String): Column =
      coalesce(sum(col(c).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
    halves(df, columns, sort, orderCol)
      .agg(total("hi").as("sum_hi"), total("lo").as("sum_lo"), count(lit(1)).as("lines"))
  }

  /** [[apply]]'s (sum_hi, sum_lo, lines) as values, in one Spark job: each
    * partition sums its halves split at bit 32, so no long overflows below
    * 2^31 rows a partition, and the driver adds the partitions up exactly.
    */
  def value(df: DataFrame, columns: Seq[String] = Nil, sort: Boolean = true,
            orderCol: Option[String] = None): (BigDecimal, BigDecimal, Long) =
    sums(halves(df, columns, sort, orderCol))

  private def sums(halves: DataFrame): (BigDecimal, BigDecimal, Long) = {
    val parts = halves.queryExecution.toRdd.mapPartitions { rows =>
      val s = new Array[Long](5) // hi high, hi low, lo high, lo low, lines
      rows.foreach { r =>
        val hi = r.getLong(0)
        val lo = r.getLong(1)
        s(0) += hi >>> 32; s(1) += hi & 0xffffffffL
        s(2) += lo >>> 32; s(3) += lo & 0xffffffffL
        s(4) += 1
      }
      Iterator(s)
    }.collect()
    def total(i: Int): BigInt = parts.map(p => BigInt(p(i))).sum
    (BigDecimal((total(0) << 32) + total(1)), BigDecimal((total(2) << 32) + total(3)),
      total(4).toLong)
  }

  /** dataset_checksum_chain (reference a_dataset_checksum_chain.py:36-51):
    * per-snapshot checksum combined over a chain — sums add. One Spark job
    * over the union of the links' digests.
    */
  def chain(dfs: Seq[DataFrame], columns: Seq[String] = Nil): (BigDecimal, BigDecimal, Long) =
    sums(dfs.map(halves(_, columns, sort = true, None)).reduce(_ union _))
}
