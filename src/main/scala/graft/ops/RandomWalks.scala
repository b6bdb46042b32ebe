package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Cached
import graft.core.Cols.{q => Q}

/** Deterministic random-walk corpus over a directed graph — the DeepWalk
  * shape (Perozzi et al. 2014): short walks from seed nodes become the
  * "sentences" a graph-embedding or co-occurrence model trains on. The
  * repo's replayable-draw discipline replaces the RNG: at step t the walk
  * moves to out-neighbor index
  *
  *   md5_60(walk_id ‖ '|' ‖ t) mod outdeg(v)
  *
  * with neighbors indexed by (src, dst-order row_number). Every draw is a
  * pure function of (walk_id, t), so the whole corpus hash-gates under a
  * DuckDB replay of the same md5 arithmetic — the sampling-op pattern of
  * TrainingPipeline (pl_split/pl_shuffle) applied to graphs. Walks
  * TERMINATE at dangling nodes (no out-edges): the emitted walk is
  * simply shorter.
  *
  * 100 TB shape: the neighbor index (src, idx, dst, deg) is built once —
  * one row_number window partitioned BY SRC (bounded by max out-degree,
  * no global sort) — and cached partitioned on src, the every-step join
  * key. Each step joins the |walks|-row frontier (tiny, broadcastable)
  * against it with the draw-equality predicate fused into the same
  * stage, so nothing beyond the surviving one-row-per-walk frontier is
  * ever materialized or shuffled.
  */
object RandomWalks {

  /** The walk family's shared graph artifact: every out-edge with its
    * dst-order index and the source's out-degree — (src, dst, idx, deg).
    * Deterministic (distinct edges, row_number by dst), so it can be
    * built ONCE and persisted as a snapshot the walk queries read — the
    * "extract the graph once, analyze it many times" production shape.
    * Built inline by [[walks]]/[[node2vecWalks]] when no prebuilt index
    * is supplied.
    *
    * 100 TB shape: one shuffle on src (the row_number window, bounded by
    * max out-degree per group — no global sort) plus the co-partitioned
    * degree join; downstream walk steps only ever SCAN it as the
    * streamed side of frontier-broadcast joins, so its storage
    * partitioning is irrelevant to the per-step plan.
    */
  def neighborIndex(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val e = edges.select(Q(srcCol).cast("long").as("src"),
        Q(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy("dst")
    // pre-partitioned on src, the every-step join key — the row_number
    // window already forces hashpartitioning(src) and the deg join
    // preserves it, so no explicit repartition (it would re-shuffle the
    // whole neighbor index for nothing; cf. the PageRank r12 fix)
    e.withColumn("idx", row_number().over(w).cast("long") - 1)
      .join(deg, "src")
  }

  /** @param starts (v) seed nodes; walk_id = the seed node id.
    * @return (walk_id, step, node), step 0..steps, dense until the walk
    *   dies at a dangling node.
    */
  def walks(edges: DataFrame, srcCol: String, dstCol: String,
            starts: DataFrame, steps: Int): DataFrame =
    walksIndexed(neighborIndex(edges, srcCol, dstCol), starts, steps)

  /** [[walks]] over a prebuilt [[neighborIndex]] — pass a persisted
    * index snapshot to skip the per-call distinct + degree + row_number
    * build; the walk corpus is identical (the index is deterministic).
    */
  def walksIndexed(index: DataFrame, starts: DataFrame,
                   steps: Int): DataFrame = Cached.frame { c =>
    require(steps >= 1 && steps <= 128, s"steps out of range: $steps")
    val nbr = c(index.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("idx").cast("long").as("idx"),
        col("deg").cast("long").as("deg")))
    def draw(t: Int) =
      conv(substring(md5(concat(col("walk_id").cast("string"),
        lit(s"|$t"))), 1, 15), 16, 10).cast("long")
    var frontier = starts.select(col("v").cast("long").as("walk_id"))
      .where(col("walk_id").isNotNull).distinct()
      .select(col("walk_id"), col("walk_id").as("node"))
    var acc = frontier.select(col("walk_id"), lit(0L).as("step"),
      col("node"))
    for (t <- 1 to steps) {
      // Each step's frontier is CACHED (|walks| rows): the output unions
      // every step's state, so without this the union branch for step t
      // and the lineage of every later step would each recompute the
      // whole prefix chain — O(steps²) joins instead of O(steps).
      // The frontier BROADCASTS (|walks| rows — walk batches are sized by
      // the caller); without the explicit hint the planner sort-merge
      // joins, re-sorting the full cached neighbor table every step.
      val f = broadcast(frontier)
      frontier = c(f
        .join(nbr, f("node") === nbr("src"))
        .where(draw(t) % col("deg") === col("idx"))
        .select(col("walk_id"), col("dst").as("node")))
      acc = acc.unionByName(
        frontier.select(col("walk_id"), lit(t.toLong).as("step"),
          col("node")))
    }
    // materialized on exit: every step computes exactly once against the
    // live per-step caches
    acc
  }

  /** Deterministic node2vec walks — the biased SECOND-ORDER extension of
    * [[walks]] (Grover & Leskovec 2016): at step t ≥ 2 the walk at node v
    * arriving from u weights each out-neighbor x of v by the search-bias
    * α(u,x) = 1/p if x = u (return), 1 if the edge u→x exists (x stays at
    * distance 1, the BFS-ish move), 1/q otherwise (the DFS-ish move) —
    * p interpolates between structural-equivalence and homophily
    * embeddings, the knob DeepWalk lacks. Scaling α by p·q makes every
    * weight a positive INTEGER — {x=u: q, u→x edge: p·q, else: p} — so
    * the draw is exact modular arithmetic, no float normalization:
    *
    *   r = md5_60(walk_id ‖ '|' ‖ t) mod Σweights(u,v),
    *
    * and the walk moves to the unique neighbor x (in dst-order index
    * order) whose cumulative-weight window [cum−w, cum) contains r.
    * Step 1 has no predecessor and is [[walks]]' uniform first-order
    * draw. Every draw is a pure function of (walk_id, t) and the edge
    * set, so the corpus hash-gates under a DuckDB replay of the same
    * cumulative-sum arithmetic. Walks terminate at dangling nodes.
    *
    * 100 TB shape: the cached (src, idx, dst, deg) neighbor index is the
    * only graph-sized state, built once and scanned — never re-shuffled —
    * per step. Each step probes it EXACTLY ONCE: the broadcast key set is
    * the frontier's current nodes (move candidates, as [[walks]]) UNIONED
    * with its predecessors (whose out-neighborhoods ARE the distance-1
    * test — x is at distance 1 from u iff x ∈ out(u)), so one scan yields
    * both the candidate rows and the distance-1 marks, walk-keyed and
    * tiny — the graph never moves. The cumulative-weight pick is then a
    * window over candidates partitioned by walk_id — all post-index work
    * is bounded by |frontier| · max-out-degree rows of ids, never by |E|.
    *
    * @param starts (v) seed nodes; walk_id = the seed node id.
    * @param p return parameter (≥ 1); @param q in-out parameter (≥ 1).
    * @return (walk_id, step, node), step 0..steps, dense until the walk
    *   dies.
    */
  def node2vecWalks(edges: DataFrame, srcCol: String, dstCol: String,
                    starts: DataFrame, steps: Int, p: Int, q: Int): DataFrame =
    node2vecIndexed(neighborIndex(edges, srcCol, dstCol), starts, steps, p, q)

  /** [[node2vecWalks]] over a prebuilt [[neighborIndex]] — the same
    * skip-the-index-build shape as [[walksIndexed]].
    */
  def node2vecIndexed(index: DataFrame, starts: DataFrame,
                      steps: Int, p: Int, q: Int): DataFrame = Cached.frame { c =>
    require(steps >= 1 && steps <= 128, s"steps out of range: $steps")
    require(p >= 1 && p <= 1000 && q >= 1 && q <= 1000,
      s"p/q out of range: $p/$q (integer 1..1000)")
    val nbr = c(index.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("idx").cast("long").as("idx"),
        col("deg").cast("long").as("deg")))
    def draw(t: Int) =
      conv(substring(md5(concat(col("walk_id").cast("string"),
        lit(s"|$t"))), 1, 15), 16, 10).cast("long")
    val seeds = starts.select(col("v").cast("long").as("walk_id"))
      .where(col("walk_id").isNotNull).distinct()
    var acc = seeds.select(col("walk_id"), lit(0L).as("step"),
      col("walk_id").as("node"))
    // frontier carries (walk_id, prev, node); step 1 is the uniform
    // first-order draw (no predecessor to bias against)
    var frontier = seeds.select(col("walk_id"), col("walk_id").as("node"))
    for (t <- 1 to steps) {
      val next =
        if (t == 1) {
          val f = broadcast(frontier)
          f.join(nbr, f("node") === nbr("src"))
            .where(draw(t) % col("deg") === col("idx"))
            .select(col("walk_id"), col("node").as("prev"),
              col("dst").as("node"))
        } else {
          // ONE probe of the cached index per step. The broadcast key set
          // unions the frontier's current node (role 'cand': its
          // out-neighbors are the move candidates) with its predecessor
          // (role 'mark': its out-neighborhood IS the distance-1 set —
          // edge prev→x exists iff x ∈ out(prev)), so a single scan of
          // nbr yields both halves of the bias computation. Materialized
          // ONCE with lineage truncated (eager localCheckpoint): the
          // candidate/mark split below references it twice, and keeping
          // full lineage would double the logical plan per step —
          // exponential in `steps` (a 6-step walk's plan string already
          // overflows 2 GB). The checkpoint pins it to a leaf, so the
          // per-step plan stays constant-size; the probe result is
          // frontier-bounded (|frontier| · max-out-degree id rows), never
          // graph-sized, so the materialization is cheap.
          val keys = frontier.select(col("walk_id"),
              col("node").as("k"), col("node"), col("prev"),
              lit(true).as("is_cand"))
            .unionByName(frontier.select(col("walk_id"),
              col("prev").as("k"), col("node"), col("prev"),
              lit(false).as("is_cand")))
          val probed = c.checkpoint(broadcast(keys)
            .join(nbr, col("k") === nbr("src"))
            .select(col("walk_id"), col("is_cand"), col("prev"),
              col("node"), col("idx"), col("dst")))
          val cand = probed.where(col("is_cand"))
          // distance-1 marks: (walk_id, dst) pairs reachable from prev —
          // unique because nbr's edges are distinct, so the left join
          // below never duplicates a candidate row.
          val marked = probed.where(!col("is_cand"))
            .select(col("walk_id").as("m_wid"), col("dst").as("m_dst"),
              lit(1L).as("common"))
          // integer bias weights and the cumulative-weight pick
          val ww = org.apache.spark.sql.expressions.Window
            .partitionBy("walk_id").orderBy("idx")
          val wt = org.apache.spark.sql.expressions.Window
            .partitionBy("walk_id")
          val weighted = cand
            .join(broadcast(marked), cand("walk_id") === col("m_wid") &&
              cand("dst") === col("m_dst"), "left")
            .select(cand("walk_id"), col("prev"), col("node"), col("idx"),
              col("dst"),
              when(col("dst") === col("prev"), lit(q.toLong))
                .when(col("common").isNotNull, lit(p.toLong * q))
                .otherwise(lit(p.toLong)).as("bias"))
          weighted
            .withColumn("cum", sum(col("bias")).over(ww))
            .withColumn("tot", sum(col("bias")).over(wt))
            .where(draw(t) % col("tot") >= col("cum") - col("bias") &&
              draw(t) % col("tot") < col("cum"))
            .select(col("walk_id"), col("node").as("prev"),
              col("dst").as("node"))
        }
      frontier = c(next)
      acc = acc.unionByName(
        frontier.select(col("walk_id"), lit(t.toLong).as("step"),
          col("node")))
    }
    acc
  }

  /** Skip-gram training pairs from a walk corpus — the step that turns
    * DeepWalk's walks into word2vec-shaped data (Perozzi et al. 2014
    * §4.2): each walk is a "sentence", and every ordered (center,
    * context) node pair within `window` steps contributes one
    * observation; duplicate pairs fold into a frequency column, the
    * (pair, n) rows a negative-sampling trainer consumes.
    *
    * 100 TB shape: the self-join is keyed on walk_id — each group is at
    * most steps+1 rows, so the join is a bounded per-walk nested loop
    * after one co-partitioned shuffle, and output is ≤ 2·window rows per
    * walk position. The grouped count is map-side combinable. Nothing
    * quadratic in corpus size anywhere.
    *
    * @param walks (walk_id, step, node) — [[walks]]' output shape.
    * @return (center, context, n), n = observation count.
    */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1 && window <= 16, s"window out of range: $window")
    val a = walks.select(col("walk_id"), col("step").as("sc"),
      col("node").as("center"))
    val b = walks.select(col("walk_id"), col("step").as("sx"),
      col("node").as("context"))
    a.join(b, "walk_id")
      .where(col("sx") =!= col("sc") &&
        abs(col("sx") - col("sc")) <= window)
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
  }

  /** Negative-sampling draw table from a skip-gram pair corpus — the
    * terminal operator of the DeepWalk family: word2vec's negatives are
    * drawn from the unigram distribution raised to the 3/4 power
    * (Mikolov et al. 2013 §2.2), and this materializes that draw as a
    * deterministic, oracle-replayable table so the walk family ends in
    * trainer-ready batches.
    *
    * The repo's replayable-draw discipline, twice over:
    *  - the 3/4 power is INTEGER-EXACT: w = ⌊freq^(3/4)⌋ computed as
    *    |{x ∈ 1..64 : x⁴ ≤ freq³}| (the largest integer 4th root of
    *    freq³), never float pow — libm differences can flip ⌊16^0.75⌋
    *    between 7 and 8; counting x⁴ ≤ freq³ cannot. Weights cap at 64
    *    (so freq ≥ 256 short-circuits, keeping freq³ inside Long), the
    *    same maxWeight as [[TrainingPipeline.sampleWeighted]] whose
    *    replication min-hash key then performs the draw: w independent
    *    md5 draws per node, keep the minimum — a weight-w node wins
    *    proportionally w times as often, exactly replayed by the oracle.
    *
    * 100 TB shape: the unigram table is one map-side-combinable grouped
    * count over the pair corpus (|V| rows out), the 4th-root weight is a
    * 64-element scan-side collection expression, and the draw is
    * [[TrainingPipeline.sampleN]]'s TakeOrderedAndProject bounded heap —
    * no global sort, nothing corpus-sized past the first aggregation.
    *
    * @param pairs (center, context, n) — [[skipGramPairs]]' output shape.
    * @return (node, freq, w34): the `nDraws` drawn negatives with their
    *   context frequency and integer ⌊freq^(3/4)⌋ replication weight.
    */
  def negativeDraws(pairs: DataFrame, salt: String, nDraws: Int): DataFrame = {
    require(nDraws >= 1, s"nDraws must be >= 1, got $nDraws")
    val freq = pairs.groupBy(col("context").as("node"))
      .agg(sum(col("n")).as("freq"))
    val cube = col("freq") * col("freq") * col("freq")
    val tbl = freq.withColumn("w34",
      when(col("freq") >= 256L, lit(64L)) // 64^4 = 256^3: already at cap
        .otherwise(size(filter(sequence(lit(1L), lit(64L)),
          x => x * x * x * x <= cube)).cast("long")))
    graft.ops.TrainingPipeline.sampleWeighted(tbl, "node", "w34", salt,
      nDraws)
  }
}
