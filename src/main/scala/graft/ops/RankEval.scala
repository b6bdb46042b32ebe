package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ranking-quality metrics against labeled ground truth — MRR, binary-gain
  * DCG with the fixed-point log2 discount, ideal DCG, nDCG in basis
  * points — computable for ANY (qid, id, rank) ranking: the exact
  * semantic top-k, the hybrid fusion, a PQ approximation. All integer
  * floor arithmetic (the [[ModelFilter.log2fp]] discipline), so the
  * metrics themselves hash-gate under a DuckDB replay: retrieval quality
  * tuning becomes an oracle-gated operation.
  *
  * Relevance is label agreement: item `id` is relevant to query `qid`
  * iff they share a label. The ideal-DCG relevant count subtracts the
  * query itself (the convention that rankings exclude self-hits — both
  * gated rankings do).
  *
  * 100 TB shape: rankings are |queries|·k rows; the only corpus-sized
  * inputs are the two label joins, both key-partitioned scans, and the
  * discount series explodes ≤ k rows per QUERY, never per item.
  */
object RankEval {

  /** @param ranking (qid, id, rank), rank 1-based dense per qid
    * @param labels (id, label) covering both query and item ids
    * @param qidSuperset when given, any SUPERSET of the ranking's qid
    *   values (e.g. the literal query universe the caller built the
    *   ranking from). The ideal-DCG side then enumerates this tiny
    *   literal relation instead of `ranking.select(qid).distinct()`,
    *   which removes the SECOND evaluation of the whole ranking subtree
    *   from the physical plan (guide §3.3 "duplicated subtrees" — for
    *   the hybrid queries that subtree is the full BM25 index + ANN leg,
    *   r21 measured: rt_eval_hybrid's plan went from 6 documents + 8
    *   embeddings scans to 3 + 4). Result-identical by construction:
    *   the final metrics join is INNER on qid against `agg`, whose qids
    *   are a subset of the ranking's, so ideal-DCG rows fabricated for
    *   superset-only qids are discarded — any superset yields the same
    *   output (RankEvalSpec pins this law, superset and exact). A set
    *   that MISSES a ranked qid would drop that query's row silently, so
    *   it fails the query instead (a filter on `agg`'s own qids against
    *   the literal set: the ranking subtree is still planned once).
    * @return (qid, mrr_fp, dcg_fp, idcg_fp, ndcg_bp): MRR on the 2^20
    *   scale, DCG/IDCG as Σ 2^40 div log2fp(rank+1), nDCG basis points.
    */
  def labelMetrics(ranking: DataFrame, labels: DataFrame, k: Int,
                   qidSuperset: Option[Seq[Long]] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val fp = 1L << 20
    val fp2 = 1L << 40
    val lab = labels.toDF("lid", "label")
    val rl = ranking.select(col("qid").cast("long").as("qid"),
        col("id").cast("long").as("id"), col("rank").cast("long").as("rank"))
      .join(lab.select(col("lid").as("id"), col("label")), "id")
      .join(lab.select(col("lid").as("qid"), col("label").as("qlabel")),
        "qid")
      .withColumn("rel",
        when(col("label") === col("qlabel"), 1L).otherwise(0L))
    val agg = rl
      .withColumn("disc", ModelFilter.log2fp(col("rank") + 1))
      .groupBy("qid").agg(
        coalesce(expr(s"${fp}L div min(CASE WHEN rel = 1 THEN rank END)"),
          lit(0L)).as("mrr_fp"),
        coalesce(sum(when(col("rel") === 1, expr(s"${fp2}L div disc"))),
          lit(0L)).as("dcg_fp"))
    // ideal DCG: per-label relevant count (minus the query itself),
    // discount series over <= k rows per query — |queries| rows total.
    val qids = qidSuperset match {
      case Some(qs) =>
        val s = ranking.sparkSession
        import s.implicits._
        qs.distinct.toDF("qid")
      case None => ranking.select(col("qid").cast("long").as("qid")).distinct()
    }
    val cnt = qids
      .join(lab.select(col("lid").as("qid"), col("label")), "qid")
      .join(lab.groupBy("label").agg(count(lit(1)).as("n")), "label")
      .select(col("qid"), (col("n") - 1).as("c"))
    // c = 0 (a query whose label has no other member) must DROP the qid —
    // the oracle's range(1, least(c,k)+1) is empty so its inner join
    // discards it. Without the filter, Spark's sequence(1, 0) evaluates
    // as the DESCENDING [1, 0] (default step -1) and fabricates an
    // idcg_fp=2^20 row the oracle never emits.
    val ideal = cnt.filter(col("c") >= 1)
      .select(col("qid"),
        explode(sequence(lit(1L), least(col("c"), lit(k.toLong)))).as("i"))
      .withColumn("disc", ModelFilter.log2fp(col("i") + 1))
      .select(col("qid"), expr(s"${fp2}L div disc").as("d"))
      .groupBy("qid").agg(sum(col("d")).as("idcg_fp"))
    val checked = qidSuperset match {
      case Some(qs) =>
        val known = qs.toSet
        // nondeterministic, so the optimizer keeps the check on agg's
        // own rows: pushed below the aggregate and across the qid join,
        // it would also test the labels relation's ids
        val covered = udf { (q: Long) =>
          known(q) || sys.error(s"labelMetrics: qidSuperset misses ranked qid $q")
        }.asNondeterministic()
        agg.filter(covered(col("qid")))
      case None => agg
    }
    checked.join(ideal, "qid")
      .select(col("qid"), col("mrr_fp"), col("dcg_fp"), col("idcg_fp"),
        expr("(10000 * dcg_fp) div idcg_fp").as("ndcg_bp"))
  }
}
