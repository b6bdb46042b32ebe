package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cached
import graft.functions.{SimilarityFunctions => S, TextFunctions => T}
import graft.expr.{KernelCall, Log2Fp}

/** Model-based quality filtering — the learned-scoring layer of a
  * training-data curation stack, complementing the heuristic filters
  * (TextFunctions quality/Gopher), the dedup family (Dedup), and the
  * embedding-space curation family (KMeans/SemDeDup):
  *
  *  - [[naiveBayes]]: multinomial Naive Bayes text classifier (the
  *    fasttext-linear-classifier role in CCNet-style pipelines — Wenzek et
  *    al. 2020 filter Common Crawl with a linear model over hashed
  *    n-grams).
  *  - [[stupidBackoff]]: distributed trigram LM scoring with stupid
  *    backoff — Brants et al. 2007, "Large Language Models in Machine
  *    Translation", THE MapReduce-era distributed LM design: counts are
  *    sharded by n-gram hash, scoring is joins against the count shards,
  *    and the score S deliberately forgoes normalization so no global
  *    pass is ever needed.
  *  - [[dsirWeights]] / [[dsirSelect]]: hashed-n-gram importance weights
  *    (Xie et al. 2023, "Data Selection for Language Models via Importance
  *    Resampling"): bag-of-hashed-bigram bucket models for a target and a
  *    raw distribution; a document's log importance ratio is a sum of
  *    per-bucket log ratios.
  *
  * Everything is INTEGER-EXACT in log space via [[graft.expr.Log2Fp]]
  * (2^20-scaled shift-and-square log2): `ln` on two engines differs in the
  * last ulp, so a hash-gated oracle over floating logs would be flaky by
  * construction. All counts, priors, smoothing, and backoff penalties are
  * rationals; their fixed-point log2s replay bit-for-bit in DuckDB
  * (queries/ModelOracle.scala). Token hashing is the repo-standard 60-bit
  * md5 prefix (SimilarityFunctions.positionedShingleHashes), so even hash
  * collisions replicate on both engines.
  *
  * 100 TB shape (all three): the corpus-sized tables that move are
  * (id, long-hash) or (id, bucket, count) rows — text is left behind at
  * the tokenize scan. Model tables (n-gram counts, class stats, bucket
  * deltas) shuffle-join against positions when vocabulary-sized, broadcast
  * when tiny (class table, DSIR's B-row bucket table). No global windows:
  * per-doc aggregation keys on the doc id; [[dsirSelect]]'s top-k is a
  * TakeOrdered, not a single-partition sort.
  */
object ModelFilter {

  /** Fixed-point log2 column (see [[graft.expr.Log2Fp]]); x <= 0 → null. */
  def log2fp(c: Column): Column =
    KernelCall.column(c.cast("long"), Log2Fp)

  private def toksOf(df: DataFrame, idCol: String, textCol: String,
                     extra: Column*): DataFrame = {
    import graft.core.Cols.{q => Q}
    df.select((Seq(Q(idCol).as("id"),
      T.tokens(T.normalized(Q(textCol))).as("ts")) ++ extra): _*)
  }

  /** Multinomial Naive Bayes with add-one smoothing, trained and scored in
    * one plan. Rows matching `trainFilter` are the training set; all other
    * rows are scored and labeled with the argmax class.
    *
    * Fixed-point log-likelihood: score_fp(d, c) =
    *   log2fp(P_c) - log2fp(D)                (class prior)
    *   + Σ_tokens [ log2fp(cnt(c,h)+1) - log2fp(T_c + V) ]
    * where P_c = train docs of class c, D = train docs, cnt(c,h) = class
    * count of token-hash h, T_c = class token total, V = train vocabulary
    * size. A token unseen for class c contributes exactly
    * -log2fp(T_c + V) (i.e. probability 1/(T_c+V)) — implemented as the
    * algebraic split  -n_tokens·log2fp(T_c+V) + Σ_found log2fp(cnt+1),
    * which turns the per-(token, class) lookup into ONE inner join against
    * the count table instead of a dense positions×classes expansion
    * (log2fp(0+1) = 0, so absent rows need no row at all).
    *
    * Returns (idCol, pred_<labelCol>, score_fp, <labelCol>, correct) for
    * every non-train row. Ties on score_fp break to the lexicographically
    * smallest class.
    *
    * Scale: positions×counts is a hash-keyed shuffle join (count table is
    * per-class-vocab-sized); the class table is a broadcast; the argmax is
    * a per-doc window over |classes| rows.
    */
  def naiveBayes(df: DataFrame, idCol: String, textCol: String,
                 labelCol: String, trainFilter: Column): DataFrame = {
    import graft.core.Cols.{q => Q}
    val (cnt, classes) = naiveBayesModel(df, textCol, labelCol, trainFilter)
    naiveBayesScoreFrozen(df.filter(!trainFilter), idCol, textCol, labelCol,
      cnt, classes)
  }

  /** The trained NB model as two DataFrames — `cnt` (lbl, h, lg) with
    * lg = log2fp(count+1), and `classes` (lbl, prior_fp, denom_fp) —
    * the shapes a production pipeline PERSISTS (snapshots / a memoized
    * job) so daily scoring batches and streaming sinks never re-read the
    * training corpus. ONE corpus-scan of the training half builds the raw
    * count table; class token totals (Σc per lbl), the vocabulary size
    * (distinct h), and the priors all derive from it or from the cheap
    * docs-only scan — re-exploding the token stream per aggregate would
    * triple the family's only corpus-sized pass.
    */
  def naiveBayesModel(df: DataFrame, textCol: String, labelCol: String,
                      trainFilter: Column): (DataFrame, DataFrame) = {
    import graft.core.Cols.{q => Q}
    val train = df.filter(trainFilter)
      .select(T.tokens(T.normalized(Q(textCol))).as("ts"),
        Q(labelCol).as("lbl"))
      .withColumn("hs", S.positionedShingleHashes(col("ts"), 1))
    val cntRaw = train.select(col("lbl"), explode(col("hs")).as("h"))
      .groupBy("lbl", "h").agg(count(lit(1)).as("c"))
    val cnt = cntRaw
      .select(col("lbl"), col("h"), log2fp(col("c") + 1).as("lg"))
    // D (train docs) and V (train vocabulary) are 1-row aggregates; the
    // class table is |classes| rows — all broadcast-sized by construction.
    val dv = train.groupBy().agg(count(lit(1)).as("d"))
      .crossJoin(cntRaw.select("h").distinct()
        .groupBy().agg(count(lit(1)).as("v")))
    val classes = train.groupBy("lbl").agg(count(lit(1)).as("p"))
      .join(cntRaw.groupBy("lbl").agg(sum(col("c")).as("t")), "lbl")
      .crossJoin(broadcast(dv))
      .select(col("lbl"),
        (log2fp(col("p")) - log2fp(col("d"))).as("prior_fp"),
        log2fp(col("t") + col("v")).as("denom_fp"))
    (cnt, classes)
  }

  /** Score a batch against a FROZEN model (the persisted/streaming twin —
    * same contract as KMeans.assignTo vs fit): `cnt`/`classes` in the
    * [[naiveBayesModel]] shapes, possibly read back from snapshots. Output
    * is identical to [[naiveBayes]] on the same split, which is exactly
    * what lets the persisted variant share the in-one-plan oracle.
    */
  def naiveBayesScoreFrozen(df: DataFrame, idCol: String, textCol: String,
                            labelCol: String, cnt: DataFrame,
                            classes: DataFrame): DataFrame = {
    import graft.core.Cols.{q => Q}
    val score = toksOf(df, idCol, textCol, Q(labelCol).as("lbl"))
      .withColumn("hs", S.positionedShingleHashes(col("ts"), 1))
    val pos = score.select(col("id"), explode(col("hs")).as("h"))
    val hits = pos.join(cnt, "h")
      .groupBy("id", "lbl").agg(sum(col("lg")).as("hit_fp"))
    val scored = score
      .select(col("id"), col("lbl").as("actual"),
        size(col("ts")).cast("long").as("n_tokens"))
      .crossJoin(broadcast(classes))
      .join(hits, Seq("id", "lbl"), "left")
      .withColumn("score_fp",
        col("prior_fp") - col("n_tokens") * col("denom_fp") +
          coalesce(col("hit_fp"), lit(0L)))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score_fp").desc, col("lbl").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("id").as(idCol), col("lbl").as(s"pred_$labelCol"),
        col("score_fp"), col("actual").as(labelCol),
        (col("lbl") === col("actual")).as("correct"))
  }

  /** The stupid-backoff score constant log2fp(0.4) = log2fp(4)-log2fp(10):
    * alpha is the rational 2/5, so even the backoff penalty is replayable.
    */
  val AlphaFp: Long = Log2Fp.ratio(4, 10)

  /** Distributed trigram LM scoring with stupid backoff (Brants et al.
    * 2007): per token at position p, with k = levels backed off from the
    * highest order available at p (min(p+1, 3)),
    *
    *   S = count(ngram)/count(context) · 0.4^k
    *   score_fp = log2fp(num) - log2fp(den) + k·[[AlphaFp]]
    *
    * level 3: trigram count / context-bigram count; level 2: bigram /
    * context-unigram; level 1: unigram / N. Position 0 starts at unigrams,
    * position 1 at bigrams (no sentence-start symbols — documented
    * deviation from Brants' <s> padding, chosen so the oracle needs no
    * synthetic tokens). A token with no matching unigram is OOV: counted,
    * excluded from the sum. S is deliberately NOT a probability — the
    * whole point of stupid backoff is that no normalization pass over the
    * count shards is needed, which is also what makes it embarrassingly
    * distributable.
    *
    * Rows matching `trainFilter` contribute counts; the rest are scored:
    * (idCol, n_tokens, n_oov, n_tri, n_bi, n_uni, logscore_fp).
    *
    * Scale: three count tables sharded by 60-bit n-gram hash (the Brants
    * design); scoring is 5 hash-keyed left joins of the (id, pos, hashes)
    * stream against them — counts can be broadcast when they fit, and the
    * positions stream carries 6 longs/token, never text. The padded-array
    * zip keeps the explode from duplicating whole token arrays per row
    * (that would be O(tokens²) shuffle bytes per doc).
    */
  def stupidBackoff(df: DataFrame, idCol: String, textCol: String,
                    trainFilter: Column): DataFrame = {
    val base = toksOf(df, idCol, textCol, trainFilter.as("is_train"))
      .withColumn("u", S.positionedShingleHashes(col("ts"), 1))
      .withColumn("b", S.positionedShingleHashes(col("ts"), 2))
      .withColumn("t3", S.positionedShingleHashes(col("ts"), 3))

    val train = base.filter(col("is_train"))
    def cntTable(c: String) = train.select(explode(col(c)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
    val uni = cntTable("u")
    val bi = cntTable("b")
    val tri = cntTable("t3")
    val nTok = train.groupBy().agg(
      coalesce(sum(size(col("u"))), lit(0)).cast("long").as("n"))

    // Ending-position-aligned padded arrays: elem p of b_end is the bigram
    // ENDING at token p (null for p=0), etc. arrays_zip + one posexplode →
    // the exploded rows carry 5 longs, not 5 whole arrays. posexplode is
    // deliberately NON-outer: an empty token array must contribute zero
    // position rows (outer would emit one all-null row that miscounts as
    // n_tokens=1/n_oov=1); zero-token docs are re-attached by the left
    // join from `scoredDocs` below, mirroring the oracle's
    // `FROM sc LEFT JOIN agg`.
    val scoredDocs = base.filter(!col("is_train")).select(col("id"))
    val nullL = lit(null).cast("long")
    val m = size(col("u"))
    val score = base.filter(!col("is_train"))
      .select(col("id"), posexplode(arrays_zip(
        col("u").as("h1"),
        slice(concat(array(nullL), col("b")), lit(1), m).as("h2"),
        slice(concat(array(nullL, nullL), col("t3")), lit(1), m).as("h3"),
        slice(concat(array(nullL), col("u")), lit(1), m).as("hc1"),
        slice(concat(array(nullL, nullL), col("b")), lit(1), m).as("hc2"))))
      .select(col("id"), col("pos"),
        col("col.h1"), col("col.h2"), col("col.h3"),
        col("col.hc1"), col("col.hc2"))

    def look(t: DataFrame, on: String, as: String) =
      t.select(col("h").as(on), col("c").as(as))
    val joined = score
      .join(look(tri, "h3", "c3"), Seq("h3"), "left")
      .join(look(bi, "h2", "c2"), Seq("h2"), "left")
      .join(look(bi, "hc2", "c2ctx"), Seq("hc2"), "left")
      .join(look(uni, "h1", "c1"), Seq("h1"), "left")
      .join(look(uni, "hc1", "c1ctx"), Seq("hc1"), "left")
      .crossJoin(broadcast(nTok))

    // Highest order available at p is min(p+1, 3); k = that minus the
    // level that actually had counts. c3 non-null implies its context
    // bigram was counted too — unless a 60-bit hash collision manufactured
    // the trigram, so each level requires num AND den (both engines hash
    // identically, so even that corner replays).
    val maxOrd = least(col("pos") + 1, lit(3))
    val lvl = when(col("c3").isNotNull && col("c2ctx").isNotNull, 3)
      .when(col("c2").isNotNull && col("c1ctx").isNotNull, 2)
      .when(col("c1").isNotNull, 1).otherwise(0)
    val num = when(lvl === 3, col("c3")).when(lvl === 2, col("c2"))
      .otherwise(col("c1"))
    val den = when(lvl === 3, col("c2ctx")).when(lvl === 2, col("c1ctx"))
      .otherwise(col("n"))
    val k = (maxOrd - lvl).cast("long")
    val sFp = log2fp(num) - log2fp(den) + k * lit(AlphaFp)

    val agg = joined.withColumn("lvl", lvl)
      .withColumn("s_fp", when(lvl > 0, sFp))
      .groupBy("id").agg(
        count(lit(1)).as("nt"),
        count(when(col("lvl") === 0, 1)).as("oov"),
        count(when(col("lvl") === 3, 1)).as("l3"),
        count(when(col("lvl") === 2, 1)).as("l2"),
        count(when(col("lvl") === 1, 1)).as("l1"),
        coalesce(sum(col("s_fp")), lit(0L)).as("ls"))

    scoredDocs.join(agg, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("nt"), lit(0L)).as("n_tokens"),
        coalesce(col("oov"), lit(0L)).as("n_oov"),
        coalesce(col("l3"), lit(0L)).as("n_tri"),
        coalesce(col("l2"), lit(0L)).as("n_bi"),
        coalesce(col("l1"), lit(0L)).as("n_uni"),
        coalesce(col("ls"), lit(0L)).as("logscore_fp"))
  }

  /** DSIR-style importance log-weights (Xie et al. 2023): features are
    * 60-bit hashes of unigrams AND bigrams folded into `buckets` buckets;
    * the target distribution is estimated on rows matching `targetFilter`,
    * the raw distribution on ALL rows; every non-target row gets
    *
    *   weight_fp = Σ_b n_doc[b]·[log2fp(ct[b]+1) - log2fp(cr[b]+1)]
    *             + n_feats·[log2fp(Cr+B) - log2fp(Ct+B)]
    *
    * i.e. the fixed-point log of Π p_target(b)/p_raw(b) with add-one
    * smoothing — the paper's bag-of-hashed-ngrams importance ratio, in
    * exact integer arithmetic. Output: (idCol, n_feats, weight_fp).
    *
    * Scale: the bucket model is B rows regardless of corpus size —
    * broadcast; per-doc features reduce map-side to (id, bucket, n); the
    * weight is one grouped sum. Nothing global, nothing quadratic.
    *
    * Eager: constructing the returned frame runs the Spark jobs — the
    * one corpus pass, which caches the (id, is_target, bkt, n) proxy
    * relation and collects the B-row model to the driver, then the
    * per-doc weights, which come back materialized.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetFilter: Column,
                  buckets: Int = 2048): DataFrame = Cached.frame { c =>
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val base = toksOf(df, idCol, textCol, targetFilter.as("is_target"))
      .withColumn("fs", concat(
        S.positionedShingleHashes(col("ts"), 1),
        S.positionedShingleHashes(col("ts"), 2)))
    // ONE explode + ONE (id, bucket)-keyed aggregation is the only
    // corpus-sized pass; the B-row bucket model and the normalizer totals
    // are re-aggregations of its output, not fresh corpus scans. The
    // persist + driver-side model build are what MAKE that true in
    // execution (r21): docAll used to have three plan consumers
    // (per-bucket model, normalizer totals, per-doc weights), and the
    // executed plan re-ran the full tokenize+shingle+explode corpus pass
    // once per consumer — exchange reuse cannot dedupe them because
    // Catalyst pushes the !is_target filter below the aggregate on the
    // weights branch, and the two broadcast branches planned as separate
    // query stages (measured at sf0.1: 3 documents scans + 3
    // corpus-sized exchanges; executed plan now 1 scan. x10 shuffle
    // 111.5 → 52.5 MB; x100 — the first decade whose synthesized input
    // has multi-file scan parallelism — wall 28.9 → 13.1 s and shuffle
    // 1173 → 508 MB, both −55%, same-session A/B). The model is
    // bounded at B rows BY CONTRACT, so it is
    // collected and finished on the driver (Log2Fp.compute is the same
    // fixed-point log2 the codegen expression evaluates — bit-identical,
    // and the oracle hash replays it) and rides back as a broadcast
    // literal: no plan subtree, no second corpus pass, no re-planned
    // stage. The cached relation is (id, is_target, bkt, n) — the
    // lightweight proxy rows, never text — and MEMORY_AND_DISK spills
    // gracefully at scale.
    val docAll = c(base.select(col("id"), col("is_target"),
      explode(col("fs")).as("h"))
      .groupBy(col("id"), col("is_target"),
        (col("h") % buckets).as("bkt"))
      .agg(count(lit(1)).as("n")))

    // B-row model, finished driver-side: per-bucket delta + the shared
    // normalizer constant (both exact integer arithmetic).
    val perBkt = docAll.groupBy("bkt").agg(
      coalesce(sum(when(col("is_target"), col("n"))), lit(0L)).as("ct"),
      sum(col("n")).as("cr"))
      .collect()
    val tt = perBkt.map(_.getLong(1)).sum
    val tr = perBkt.map(_.getLong(2)).sum
    val constFp = Log2Fp.compute(tr + buckets) - Log2Fp.compute(tt + buckets)
    val s = df.sparkSession
    import s.implicits._
    val model = perBkt.map { r =>
      (r.getLong(0),
        Log2Fp.compute(r.getLong(1) + 1) - Log2Fp.compute(r.getLong(2) + 1))
    }.toSeq.toDF("bkt", "delta_fp")

    val docB = docAll.filter(!col("is_target"))
      .select(col("id"), col("bkt"), col("n"))
    docB.join(broadcast(model), "bkt")
      .groupBy("id").agg(
        sum(col("n")).as("n_feats"),
        sum(col("n") * col("delta_fp")).as("dsum_fp"))
      .select(col("id").as(idCol), col("n_feats"),
        (col("dsum_fp") + col("n_feats") * lit(constFp)).as("weight_fp"))
  }

  /** Top-k selection by importance weight (ties → smaller id): the
    * deterministic stand-in for the paper's Gumbel-top-k resample, chosen
    * so the oracle replays it exactly; a seeded Gumbel draw would need
    * floating exp/log on both engines. Spark plans this as TakeOrdered
    * (per-partition heaps + driver merge of k), not a global sort.
    */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
                 targetFilter: Column, k: Int,
                 buckets: Int = 2048): DataFrame = {
    import graft.core.Cols.{q => Q}
    require(k > 0, s"k must be positive, got $k")
    val w = dsirWeights(df, idCol, textCol, targetFilter, buckets)
      .orderBy(col("weight_fp").desc, Q(idCol).asc)
      .limit(k)
    // rank over the k selected rows only — k is small by contract
    import org.apache.spark.sql.expressions.Window
    val win = Window.orderBy(col("weight_fp").desc, Q(idCol).asc)
    w.withColumn("rank", row_number().over(win).cast("long"))
      .select(col("rank"), Q(idCol), col("n_feats"), col("weight_fp"))
  }
}
