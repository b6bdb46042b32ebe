package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import graft.expr.{Log2Fp, Md5Hash60}
import graft.ops.ModelFilter
import TestSpark.spark

/** The model-filter family (NB / stupid-backoff LM / DSIR) and its
  * fixed-point log2 primitive. The driver's DuckDB oracle pins
  * Spark↔DuckDB; this spec pins (a) the Log2Fp recurrence against plain
  * math and across evaluation modes, and (b) each operator against an
  * independent driver-side plain-collections model over the sf0.001
  * corpus — the same third-replication pattern KMeansSpec uses.
  */
class ModelFilterSpec extends AnyFunSuite {

  // ---- Log2Fp primitive ----

  test("Log2Fp: exact at powers of two, monotone, ~1e-6 of true log2") {
    for (k <- 0 to 62)
      assert(Log2Fp.compute(1L << k) == k.toLong << 20, s"2^$k")
    val rnd = new scala.util.Random(41)
    val xs = Seq.fill(4000)(math.abs(rnd.nextLong()) max 1L).sorted
    xs.sliding(2).foreach { case Seq(a, b) =>
      assert(Log2Fp.compute(a) <= Log2Fp.compute(b), s"monotone $a $b")
    }
    xs.foreach { x =>
      val err = math.abs(Log2Fp.compute(x).toDouble / (1L << 20) -
        math.log(x.toDouble) / math.log(2.0))
      assert(err < 2e-6, s"x=$x err=$err")
    }
  }

  test("Log2Fp: interpreted == codegen(DataFrame), null for x <= 0") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(43)
    val xs = Seq.fill(300)(math.abs(rnd.nextLong()) max 1L) ++
      Seq(1L, 2L, 3L, (1L << 31) - 1, 1L << 31, Long.MaxValue)
    val viaDf = xs.toDF("x")
      .select(ModelFilter.log2fp(col("x")).as("l")).as[Long].collect()
    xs.zip(viaDf).foreach { case (x, l) =>
      val interp = graft.expr.KernelCall(
        org.apache.spark.sql.catalyst.expressions.Literal(x), Log2Fp)
        .eval(InternalRow.empty).asInstanceOf[Long]
      assert(l == interp && l == Log2Fp.compute(x), s"x=$x")
    }
    val nulls = Seq(0L, -1L, Long.MinValue).toDF("x")
      .select(ModelFilter.log2fp(col("x")).as("l"))
      .collect()
    assert(nulls.forall(_.isNullAt(0)), "x <= 0 must be null")
  }

  test("AlphaFp is log2fp(4) - log2fp(10), within 1e-6 of log2(0.4)") {
    assert(ModelFilter.AlphaFp == Log2Fp.compute(4) - Log2Fp.compute(10))
    val err = math.abs(ModelFilter.AlphaFp.toDouble / (1L << 20) -
      math.log(0.4) / math.log(2.0))
    assert(err < 1e-6)
  }

  // ---- driver-side plain-collections model over sf0.001 ----

  private def toks(text: String): Seq[String] =
    text.toLowerCase.replaceAll("\\s+", " ").trim.split(' ').toSeq
      .filter(_.nonEmpty)
  private def h60(s: String): Long = Md5Hash60.of(s.getBytes("UTF-8"))
  private def lg(x: Long): Long = Log2Fp.compute(x)

  private lazy val docs: Seq[(Long, String, Seq[String])] = {
    val s = spark
    import s.implicits._
    s.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "lang", "text").as[(Long, String, String)]
      .collect().toSeq.map { case (d, l, t) => (d, l, toks(t)) }
  }

  test("naiveBayes == plain-Scala model on sf0.001 (every score row)") {
    val train = docs.filter(_._1 % 2 == 0)
    val score = docs.filter(_._1 % 2 != 0)
    val cnt = collection.mutable.Map.empty[(String, Long), Long]
    val tot = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val pri = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val vocab = collection.mutable.Set.empty[Long]
    train.foreach { case (_, l, ts) =>
      pri(l) += 1
      ts.foreach { t =>
        val hh = h60(t)
        cnt((l, hh)) = cnt.getOrElse((l, hh), 0L) + 1; tot(l) += 1
        vocab += hh
      }
    }
    val d = train.size.toLong
    val v = vocab.size.toLong
    val classes = pri.keys.toSeq.sorted
    val expect = score.map { case (id, actual, ts) =>
      val best = classes.map { c =>
        val s0 = lg(pri(c)) - lg(d) - ts.size * lg(tot(c) + v) +
          ts.map(t => cnt.getOrElse((c, h60(t)), -1L))
            .collect { case x if x >= 0 => lg(x + 1) }.sum
        (c, s0)
      }.minBy { case (c, s0) => (-s0, c) } // score desc, then label asc
      (id, best._1, best._2, actual)
    }.sortBy(_._1)

    val got = ModelFilter.naiveBayes(
      spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet"),
      "doc_id", "text", "lang", col("doc_id") % 2 === 0)
      .select("doc_id", "pred_lang", "score_fp", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(got.size == expect.size)
    got.zip(expect).foreach { case (g, e) =>
      assert(g == e, s"doc ${g._1}")
    }
  }

  test("stupidBackoff == plain-Scala model on sf0.001 (every score row)") {
    val train = docs.filter(_._1 % 2 == 0)
    val score = docs.filter(_._1 % 2 != 0)
    def grams(ts: Seq[String], n: Int): Seq[Long] =
      if (ts.size < n) Seq.empty
      else ts.sliding(n).map(g => h60(g.mkString(" "))).toSeq
    def countMap(n: Int): Map[Long, Long] =
      train.flatMap(t => grams(t._3, n)).groupBy(identity)
        .map { case (k, vs) => k -> vs.size.toLong }
    val uni = countMap(1); val bi = countMap(2); val tri = countMap(3)
    val n = train.map(_._3.size.toLong).sum
    val alpha = ModelFilter.AlphaFp

    val expect = score.map { case (id, _, ts) =>
      val us = grams(ts, 1); val bs = grams(ts, 2); val trs = grams(ts, 3)
      var (oov, l1, l2, l3, sum) = (0L, 0L, 0L, 0L, 0L)
      ts.indices.foreach { p =>
        val c3 = if (p >= 2) tri.get(trs(p - 2)) else None
        val c2 = if (p >= 1) bi.get(bs(p - 1)) else None
        val c2ctx = if (p >= 2) bi.get(bs(p - 2)) else None
        val c1 = uni.get(us(p))
        val c1ctx = if (p >= 1) uni.get(us(p - 1)) else None
        val maxOrd = math.min(p + 1, 3)
        (c3, c2ctx, c2, c1ctx, c1) match {
          case (Some(n3), Some(d3), _, _, _) =>
            l3 += 1; sum += lg(n3) - lg(d3) + (maxOrd - 3) * alpha
          case (_, _, Some(n2), Some(d2), _) =>
            l2 += 1; sum += lg(n2) - lg(d2) + (maxOrd - 2) * alpha
          case (_, _, _, _, Some(n1)) =>
            l1 += 1; sum += lg(n1) - lg(n) + (maxOrd - 1) * alpha
          case _ => oov += 1
        }
      }
      (id, ts.size.toLong, oov, l3, l2, l1, sum)
    }.sortBy(_._1)

    val got = ModelFilter.stupidBackoff(
      spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet"),
      "doc_id", "text", col("doc_id") % 2 === 0)
      .select("doc_id", "n_tokens", "n_oov", "n_tri", "n_bi", "n_uni",
        "logscore_fp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1).toSeq
    assert(got.size == expect.size)
    got.zip(expect).foreach { case (g, e) => assert(g == e, s"doc ${g._1}") }
  }

  test("dsirWeights == plain-Scala model on sf0.001; select is its top-k") {
    val b = 512
    def feats(ts: Seq[String]): Seq[Long] =
      (ts.map(h60) ++ ts.sliding(2).filter(_.size == 2)
        .map(g => h60(g.mkString(" "))).toSeq).map(_ % b)
    val target = docs.filter(_._2 == "en")
    val cand = docs.filter(_._2 != "en")
    val ct = target.flatMap(t => feats(t._3)).groupBy(identity)
      .map { case (k, vs) => k -> vs.size.toLong }
    val cr = docs.flatMap(t => feats(t._3)).groupBy(identity)
      .map { case (k, vs) => k -> vs.size.toLong }
    val tt = ct.values.sum; val tr = cr.values.sum
    val konst = lg(tr + b) - lg(tt + b)
    val expect = cand.map { case (id, _, ts) =>
      val fs = feats(ts)
      val w = fs.map(bk => lg(ct.getOrElse(bk, 0L) + 1) -
        lg(cr(bk) + 1)).sum + fs.size * konst
      (id, fs.size.toLong, w)
    }.filter(_._2 > 0).sortBy(_._1)

    val got = ModelFilter.dsirWeights(
      spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet"),
      "doc_id", "text", col("lang") === "en", buckets = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == expect)

    val sel = ModelFilter.dsirSelect(
      spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet"),
      "doc_id", "text", col("lang") === "en", k = 10, buckets = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val top = expect.sortBy { case (id, _, w) => (-w, id) }.take(10)
    assert(sel.toSeq == top.zipWithIndex.map { case ((id, nf, w), i) =>
      (i + 1L, id, nf, w)
    })
  }

  test("stupidBackoff hand example: counts, levels, and backoff penalty") {
    val s = spark
    import s.implicits._
    // train: "a b c a b d"; score: "a b c z"
    val df = Seq((0L, "a b c a b d"), (1L, "a b c z")).toDF("doc_id", "text")
    val r = ModelFilter.stupidBackoff(df, "doc_id", "text",
      col("doc_id") === 0).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_tokens") == 4)
    assert(row.getAs[Long]("n_oov") == 1)    // z unseen
    // pos0 "a": unigram (maxOrd 1, no penalty); pos1 "a b": bigram;
    // pos2 "a b c": trigram; pos3 "z": OOV
    assert(row.getAs[Long]("n_uni") == 1)
    assert(row.getAs[Long]("n_bi") == 1)
    assert(row.getAs[Long]("n_tri") == 1)
    val expected =
      (Log2Fp.compute(2) - Log2Fp.compute(6)) +          // a: 2/6
      (Log2Fp.compute(2) - Log2Fp.compute(2)) +          // a b: 2 / ctx a=2
      (Log2Fp.compute(1) - Log2Fp.compute(2))            // a b c: 1 / ctx ab=2
    assert(row.getAs[Long]("logscore_fp") == expected)
  }

  test("stupidBackoff zero-token scored docs report 0/0, not 1/1") {
    val s = spark
    import s.implicits._
    // A doc with empty text and one with null text must still appear in
    // the output (the oracle's `FROM sc LEFT JOIN agg` keeps them) with
    // every count zero — NOT as a phantom 1-token/1-OOV row (the
    // posexplode_outer regression ADVICE r11 flagged).
    val df = Seq((0L, "a b c a b d"), (1L, ""), (2L, null: String),
      (3L, "a b")).toDF("doc_id", "text")
    val r = ModelFilter.stupidBackoff(df, "doc_id", "text",
      col("doc_id") === 0)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_oov"),
         x.getAs[Long]("logscore_fp"))).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r(1L) == ((0L, 0L, 0L)))
    assert(r(2L) == ((0L, 0L, 0L)))
    assert(r(3L)._1 == 2L)
  }
}
