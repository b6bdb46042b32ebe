package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.RankEval
import graft.expr.Log2Fp
import TestSpark.spark

/** Label-agreement ranking metrics. The driver's oracles
  * (rt_eval_labels / rt_eval_hybrid) pin the full pipeline; this spec
  * pins labelMetrics alone — including the c = 0 corner ADVICE r11
  * flagged, where Spark's sequence(1, 0) would otherwise evaluate as the
  * DESCENDING [1, 0] and fabricate an ideal-DCG row the oracle drops.
  */
class RankEvalSpec extends AnyFunSuite {
  import spark.implicits._

  private val fp = 1L << 20
  private val fp2 = 1L << 40

  test("hand example: mrr, dcg, idcg, ndcg in integer arithmetic") {
    // labels: q=1 shares label 'a' with items 10, 11; item 12 is 'b'.
    val labels = Seq((1L, "a"), (10L, "a"), (11L, "a"), (12L, "b"))
      .toDF("id", "label")
    val ranking = Seq((1L, 12L, 1L), (1L, 10L, 2L), (1L, 11L, 3L))
      .toDF("qid", "id", "rank")
    val r = RankEval.labelMetrics(ranking, labels, k = 3).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("mrr_fp") == fp / 2)          // first hit rank 2
    val dcg = fp2 / Log2Fp.compute(3) + fp2 / Log2Fp.compute(4)
    assert(row.getAs[Long]("dcg_fp") == dcg)
    // c = 2 relevant (10, 11): ideal discounts at ranks 1, 2.
    val idcg = fp2 / Log2Fp.compute(2) + fp2 / Log2Fp.compute(3)
    assert(row.getAs[Long]("idcg_fp") == idcg)
    assert(row.getAs[Long]("ndcg_bp") == (10000L * dcg) / idcg)
  }

  test("qidSuperset law: any superset of the ranking's qids is invisible") {
    // r21: passing the literal query universe spares the plan a second
    // evaluation of the ranking subtree. Law: the output is identical
    // for the derived qid set, the exact literal set, and a strict
    // superset (extra qids — here 2L with rows in `labels` and 9L with
    // none — must NOT fabricate metric rows; the inner join against the
    // metrics side discards them).
    val labels = Seq((1L, "a"), (10L, "a"), (11L, "a"), (12L, "b"),
      (2L, "b")).toDF("id", "label")
    val ranking = Seq((1L, 12L, 1L), (1L, 10L, 2L), (1L, 11L, 3L))
      .toDF("qid", "id", "rank")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val derived = rows(RankEval.labelMetrics(ranking, labels, k = 3))
    val exact = rows(RankEval.labelMetrics(ranking, labels, k = 3,
      qidSuperset = Some(Seq(1L))))
    val superset = rows(RankEval.labelMetrics(ranking, labels, k = 3,
      qidSuperset = Some(Seq(1L, 2L, 9L))))
    assert(exact == derived)
    assert(superset == derived)
  }

  test("a qidSuperset that misses a ranked qid fails loudly") {
    // without the check, qid 2 (ranked, but absent from the literal set)
    // would vanish from the output: the ideal side never enumerates it
    val labels = Seq((1L, "a"), (10L, "a"), (2L, "a"), (20L, "a"))
      .toDF("id", "label")
    val ranking = Seq((1L, 10L, 1L), (2L, 20L, 1L)).toDF("qid", "id", "rank")
    val e = intercept[Exception] {
      RankEval.labelMetrics(ranking, labels, k = 3,
        qidSuperset = Some(Seq(1L, 9L))).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("qidSuperset")),
      s"unexpected failure: $e")
  }

  test("a query whose label has no other member is dropped (c = 0)") {
    // q=2's label 'c' has no second member: the oracle's
    // range(1, least(c,k)+1) is empty, so its inner join drops qid 2.
    // Spark must drop it too — not emit a fabricated idcg row.
    val labels = Seq((1L, "a"), (10L, "a"), (2L, "c"), (20L, "a"))
      .toDF("id", "label")
    val ranking = Seq((1L, 10L, 1L), (2L, 20L, 1L)).toDF("qid", "id", "rank")
    val r = RankEval.labelMetrics(ranking, labels, k = 3)
      .select("qid").as[Long].collect().toSet
    assert(r == Set(1L))
  }
}
