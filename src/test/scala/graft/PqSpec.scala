package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{KMeans, Pq}
import TestSpark.spark

/** Product-quantization ANN. The DuckDB oracle replays the full
  * m-subspace Lloyd + ADC pipeline; this spec adds the plain-collections
  * third replication (encode + tables + scoring re-derived driver-side
  * from the same codebooks), the ADC self-consistency law, and the PqAdc
  * expression's mode agreement and null contract.
  */
class PqSpec extends AnyFunSuite {

  private val dim = 64
  private val m = 8
  private val sub = dim / m
  private val ksub = 8
  private val fp = 1L << 10

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
  private lazy val vecs: Seq[(Long, Array[Long])] = emb
    .select("vec_id", "embedding").collect()
    .map(r => (r.getLong(0),
      r.getSeq[Float](1).map(f => math.floor(f.toDouble * 64).toLong).toArray))
    .toSeq
  private lazy val books = Pq.train(emb, "vec_id", "embedding",
    dim, m, ksub, iters = 2)

  private def refCode(qv: Array[Long]): Array[Long] =
    (0 until m).toArray.map { j =>
      var bestD = Long.MaxValue
      var bestC = 0L
      for (c <- 0 until ksub) {
        var acc = 0L
        for (i <- 0 until sub) {
          val d = qv(j * sub + i) * fp - books(j)(c)(i)
          acc += d * d
        }
        if (acc < bestD) { bestD = acc; bestC = c.toLong }
      }
      bestC
    }

  test("encode == per-subspace assignTo over vector slices") {
    val got = Pq.encode(emb, "vec_id", "embedding", books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    for (j <- 0 until m) {
      val sliced = emb.select(col("vec_id"),
        slice(col("embedding"), j * sub + 1, sub).as("embedding"))
      val viaAssign = KMeans.assignTo(sliced, "vec_id", "embedding", books(j))
        .select("vec_id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      for ((id, cs) <- got)
        assert(cs(j) == viaAssign(id), s"vec $id subspace $j")
    }
  }

  test("search == plain-collections ADC replication on sf0.001") {
    val k = 10
    val got = Pq.search(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", dim, m, ksub, iters = 2, k = k)
      .select("qid", "rank", "nid", "adist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val codes = vecs.map { case (id, qv) => id -> refCode(qv) }
    val want = vecs.filter(_._1 < 5).flatMap { case (qid, qv) =>
      val dtab = Pq.adcTable(books, qv, fpShift = 10)
      codes.filter(_._1 != qid).map { case (nid, cs) =>
        (nid, (0 until m).map(j => dtab(j * ksub + cs(j).toInt)).sum)
      }.sortBy { case (nid, d) => (d, nid) }.take(k).zipWithIndex
        .map { case ((nid, d), i) => (qid, (i + 1).toLong, nid, d) }
    }.sortBy(t => (t._1, t._2))
    assert(got == want)
  }

  test("searchIvfPq computes each corpus row's coarse assignment once") {
    val got = Pq.searchIvfPq(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      dim, m, ksub, iters = 1, nlist = 4, nprobe = 2, k = 3)
    // the projection computes the assignment; no Filter may compute it again
    val filters = got.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.sql
    }
    assert(filters.nonEmpty && !filters.exists(_.contains("graft_kmeans_assign")),
      filters.mkString("\n"))
  }

  test("ADC of a row's own code == its per-subspace assignment distance sum") {
    // the law tying encode, adcTable, and the KMeansAssign metric together
    for ((id, qv) <- vecs.take(20)) {
      val dtab = Pq.adcTable(books, qv, fpShift = 10)
      val cs = refCode(qv)
      val self = (0 until m).map(j => dtab(j * ksub + cs(j).toInt)).sum
      val direct = (0 until m).map { j =>
        books(j).map { mu =>
          (0 until sub).map { i =>
            val d = qv(j * sub + i) * fp - mu(i); d * d
          }.sum
        }.min
      }.sum
      assert(self == direct, s"vec $id")
    }
  }

  test("PqAdc: interpreted == codegen, null on bad code / length mismatch") {
    val s = spark
    import s.implicits._
    def adc(codes: Seq[Long], dtab: Seq[Long], kk: Int): Option[Long] = {
      val df = Seq((codes, dtab)).toDF("c", "d")
        .select(graft.expr.KernelCall.column(col("c"), col("d"),
          graft.expr.PqAdc(kk)).as("s"))
      val viaDf = df.collect().head
      val interp = graft.expr.KernelCall(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          codes, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          dtab, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType))), graft.expr.PqAdc(kk))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      assert(Option(viaDf.get(0)) == Option(interp),
        s"mode disagreement for codes=$codes")
      if (viaDf.isNullAt(0)) None else Some(viaDf.getLong(0))
    }
    assert(adc(Seq(0L, 1L), Seq(10L, 20L, 30L, 40L), 2) == Some(10L + 40L))
    assert(adc(Seq(0L, 2L), Seq(10L, 20L, 30L, 40L), 2).isEmpty, "code >= ksub")
    assert(adc(Seq(-1L, 0L), Seq(10L, 20L, 30L, 40L), 2).isEmpty, "negative code")
    assert(adc(Seq(0L), Seq(10L, 20L, 30L, 40L), 2).isEmpty, "dtab length mismatch")
  }
}
