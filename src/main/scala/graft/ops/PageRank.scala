package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Cached
import graft.core.Cols.{q => Q}

/** Integer-exact fixed-point PageRank (Page et al. 1999) — graph-quality
  * ranking for curation pipelines: link/citation/co-occurrence authority
  * as a document- or host-level quality prior (the web-corpus use: seed
  * trusted hosts, propagate, keep the high-rank tail), beside the
  * connected-components operator (Dedup.clusters) in the graph family.
  *
  * The repo's replay discipline, applied to power iteration: ranks are
  * Longs in units of 2^-fpShift ("per-node" normalization — r₀(v) = 1.0,
  * so the stationary total mass is ~N, not 1, and no 1/N division ever
  * happens), and every iteration is
  *
  *   r_{t+1}(v) = teleport(v)·(1−d)_fp + (d_fp · S(v)) div 2^fpShift
  *   S(v)       = Σ_{u→v} (r_t(u)·w(u,v)) div Σ_out w(u)
  *
  * (unweighted graphs are the exact special case w ≡ 1, where the
  * contribution reduces to r div outdeg)
  *
  * with d_fp = (dampNum·2^fpShift) div dampDen and (1−d)_fp its
  * complement. Every operand is a non-negative Long, every division a
  * positive-operand floor div, every Σ an order-independent Long sum — so
  * a DuckDB WITH-chain that unrolls the same `iters` steps (the
  * Lloyd-replay trick, queries/GraphOracle) hash-matches bit for bit.
  *
  * Dangling nodes (no out-edges) keep receiving teleport but leak their
  * d·r mass instead of redistributing it — the "PageRank as it was
  * originally stated" variant; the iteration is still a contraction, both
  * engines iterate the identical map, and no global dangling-sum term
  * (an extra all-node reduce per iteration) is needed.
  *
  * Magnitude bound (documented like expr/VectorOps): S(v) ≤ N·2^fpShift
  * in the worst case (every node points at v), so the widest product
  * d_fp·S(v) needs fewer than 2·fpShift + log2(N) + 1 bits; the
  * constructor requires that bound against a caller-supplied maxNodes
  * hint rather than silently wrapping. At the default fpShift = 20 that
  * is ~4M nodes; billion-node graphs run at fpShift = 14 (the usual
  * precision-vs-magnitude dial, cf. KMeans quantShift). Weighted runs
  * additionally form r·w before the floor division, so per-edge weights
  * must keep bits(N) + fpShift + bits(max w) ≤ 62 — at the defaults,
  * weights to ~2^20.
  *
  * 100 TB shape: `edges` is pre-joined once with out-degrees and cached
  * for the loop (released before return once the final rank vector is
  * materialized); each iteration is then exactly one shuffle — the
  * groupBy(dst) contribution sum — plus a co-partitioned left join back
  * to the node set. Rank state is (v, Long): 16 bytes/node regardless of
  * iteration count. Edges partitioned by src join the rank state on its
  * own key, so an edge store bucketed by src makes the per-iteration join
  * shuffle-free on the big side; contributions shuffle as (dst, Long)
  * pairs only. Iterations are a fixed small count (5–20), not
  * to-convergence polling, so the plan is a statically unrolled linear
  * DAG — no driver-side convergence collect in the loop.
  */
object PageRank {

  /** Ranks after `iters` iterations over the DISTINCT directed edge set.
    *
    * @param seeds optional personalization: a (node) DataFrame; when
    *   present, only seed nodes receive the teleport term (personalized
    *   PageRank — authority flows outward from the seed set, the
    *   trusted-seed quality-propagation shape). Nodes outside the edge
    *   set's endpoints are ignored.
    * @param weightCol optional positive edge weight; parallel (src, dst)
    *   rows fold by summation, out-mass splits proportionally. Absent =
    *   unweighted (the DISTINCT edge set, w ≡ 1).
    * @return (v, rank_fp) for every node appearing as an endpoint.
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
            fpShift: Int = 20, dampNum: Int = 85, dampDen: Int = 100,
            maxNodes: Long = 1L << 22,
            seeds: Option[DataFrame] = None,
            weightCol: Option[String] = None,
            init: Option[DataFrame] = None,
            checkpointEvery: Int = 0): DataFrame =
    ranksIndexed(normalizedEdges(edges, srcCol, dstCol, weightCol,
        fpShift, maxNodes), iters, fpShift, dampNum, dampDen, maxNodes,
      seeds, init, checkpointEvery)

  /** The iteration's graph artifact: folded positive edge weights plus
    * each source's total out-mass — (src, dst, w, sw). Deterministic, so
    * it can be built ONCE (two shuffles) and persisted as a snapshot the
    * rank queries read; [[ranks]] builds it inline.
    *
    * Weighted: parallel edges fold into one (src, dst, Σw) row and a
    * node's out-mass splits proportionally, (r·w) div Σ_out w — with the
    * unweighted case as the exact special case w = 1 (then Σ_out w is
    * the out-degree and the contribution reduces to r div deg). The
    * folded-weight magnitude guard lives here (the Scaladoc's bits(N) +
    * fpShift + bits(max w) ≤ 62): DuckDB's BIGINT errors loudly on wrap
    * but Spark's Long wraps silently, so an oversized folded weight must
    * fail fast, mirroring Bm25's dl guard — not diverge from the replay
    * with no signal.
    */
  def normalizedEdges(edges: DataFrame, srcCol: String, dstCol: String,
                      weightCol: Option[String] = None, fpShift: Int = 20,
                      maxNodes: Long = 1L << 22): DataFrame = {
    // ONE exchange for the whole build: the raw edge stream is hashed on
    // src once, and every downstream requirement is satisfied by that
    // partitioning — the (src, dst) dedup/fold (hash(src) clusters equal
    // (src, dst) rows a fortiori), the out-mass groupBy(src), and the
    // e ⋈ outW join. The previous shape (distinct() first) paid TWO
    // edge-sized shuffles: the distinct's hash(src, dst) exchange plus a
    // full re-exchange of the deduped relation onto src for the join —
    // measured 2× the build bytes at every scale (r20). Hub skew on
    // hash(src) is the documented trade: the per-iteration join needs
    // src-clustering anyway (the Scaladoc's src-bucketed edge store), so
    // the build pays the same layout the loop requires.
    val e = weightCol match {
      case None =>
        edges.select(Q(srcCol).cast("long").as("src"),
            Q(dstCol).cast("long").as("dst"))
          .where(col("src").isNotNull && col("dst").isNotNull)
          .repartition(col("src"))
          .dropDuplicates("src", "dst").withColumn("w", lit(1L))
      case Some(wc) =>
        val nodeBits = 64 - java.lang.Long.numberOfLeadingZeros(maxNodes - 1)
        val maxW = 1L << math.min(62 - fpShift - nodeBits, 40).max(1)
        edges.select(Q(srcCol).cast("long").as("src"),
            Q(dstCol).cast("long").as("dst"), Q(wc).cast("long").as("w"))
          .where(col("src").isNotNull && col("dst").isNotNull &&
            col("w") > 0)
          .repartition(col("src"))
          .groupBy("src", "dst").agg(sum(col("w")).as("w"))
          .withColumn("w", when(col("w") > lit(maxW),
              raise_error(concat(lit("pagerank: folded edge weight "),
                col("w").cast("string"),
                lit(s" exceeds $maxW (= 2^(62 - fpShift=$fpShift - " +
                  s"log2 maxNodes=$maxNodes)) — r*w would overflow Long"))))
            .otherwise(col("w")))
    }
    val outW = e.groupBy("src").agg(sum(col("w")).as("sw"))
    // SHUFFLE_HASH, same reasoning as the iteration joins: both sides are
    // already clustered on src (zero exchanges either way), but SMJ would
    // SORT the edge-sized side; hashing the node-sized out-mass table
    // streams the edges unsorted.
    e.join(outW.hint("shuffle_hash"), "src")
  }

  /** [[ranks]] over a prebuilt [[normalizedEdges]] relation — pass a
    * persisted snapshot to skip the per-call fold + out-mass build; the
    * ranks are identical (the relation is deterministic).
    *
    * fpShift/maxNodes MUST match the values the snapshot was built with:
    * [[normalizedEdges]] bakes its folded-weight overflow guard
    * (w ≤ 2^(62 − fpShift − bits(maxNodes))) in at build time, so a
    * LARGER fpShift here would silently reopen the r·w Long-wrap hazard
    * that guard exists to fail fast on. Rather than trust the caller,
    * the guard is re-asserted at rank time against THIS call's
    * parameters: the edge scan below raise_errors on any w above the
    * bound implied by the passed fpShift/maxNodes — a codegen'd
    * conditional on a scan that happens anyway, not an extra pass.
    */
  /** @param checkpointEvery when > 0, truncate the rank vector's lineage
    *   (eager `localCheckpoint`) every that-many iterations. The loop
    *   below is a statically unrolled DAG, so WITHOUT truncation every
    *   iteration's shuffle files stay referenced (and on executor disk)
    *   until the final action completes — live shuffle footprint grows
    *   as iters × |contributions|, the thing that actually fills disks
    *   on a long power iteration over a 100 TB edge set. Truncating at a
    *   node-sized checkpoint (16 bytes/node) caps the live footprint at
    *   `checkpointEvery` iterations; ranks are bit-identical (the
    *   checkpoint stores exact Longs — law in PageRankSpec). Off by
    *   default: at snapshot scales the extra materialization jobs cost
    *   more than the disk they free.
    * @param cacheEdges when true (default), the normalized edge relation
    *   is persisted for the loop — right whenever it fits the cluster's
    *   storage memory. When false, every iteration re-reads `norm` from
    *   its source: THE 100 TB shape when `norm` is a src-bucketed edge
    *   snapshot (SnapshotStore hashlabel="src"), whose scan arrives
    *   already HashPartitioning(src) — the per-iteration join stays
    *   exchange-free on the edge side with ZERO executor storage pinned
    *   to the graph, and iteration cost is one bucketed scan + the one
    *   (dst, Long) contribution shuffle. An edge set larger than cluster
    *   memory (the 100 TB regime by definition) cannot take the cached
    *   path at all; the bit-identical uncached path is the honest one.
    */
  def ranksIndexed(norm: DataFrame, iters: Int,
                   fpShift: Int = 20, dampNum: Int = 85, dampDen: Int = 100,
                   maxNodes: Long = 1L << 22,
                   seeds: Option[DataFrame] = None,
                   init: Option[DataFrame] = None,
                   checkpointEvery: Int = 0,
                   cacheEdges: Boolean = true): DataFrame = Cached.frame { c =>
    require(iters >= 1 && iters <= 64, s"iters out of range: $iters")
    require(fpShift >= 4 && fpShift <= 24, s"fpShift out of range: $fpShift")
    require(dampNum > 0 && dampDen > 0 && dampNum < dampDen,
      s"damping must be in (0,1): $dampNum/$dampDen")
    require(maxNodes >= 2 &&
        2 * fpShift +
          (64 - java.lang.Long.numberOfLeadingZeros(maxNodes - 1)) <= 62,
      s"fpShift=$fpShift with maxNodes=$maxNodes could overflow Long " +
        "rank arithmetic - lower fpShift (see Scaladoc magnitude bound)")
    val fp = 1L << fpShift
    val dFp = (dampNum.toLong * fp) / dampDen
    val omdFp = fp - dFp
    // The one edge-sized cache, reused every iteration and by both node
    // scans; released at exit once the result is materialized. The rank
    // state arrives partitioned on v (it is the output of the previous
    // iteration's v-keyed join), so iterations pay exactly ONE exchange —
    // the (dst, Long) contribution groupBy — never a re-shuffle of the
    // edge relation.
    val nodeBits = 64 - java.lang.Long.numberOfLeadingZeros(maxNodes - 1)
    val maxW = 1L << math.min(62 - fpShift - nodeBits, 40).max(1)
    val eDeg = norm.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        when(col("w").cast("long") > lit(maxW),
            raise_error(concat(lit("pagerank: edge weight "),
              col("w").cast("string"),
              lit(s" exceeds $maxW for fpShift=$fpShift/maxNodes=$maxNodes" +
                " — snapshot was built with different parameters" +
                " (r*w would overflow Long)"))))
          .otherwise(col("w").cast("long")).as("w"),
        col("sw").cast("long").as("sw"))
    val eDegC = if (cacheEdges) c(eDeg) else eDeg
    val nodes0 = eDegC.select(col("src").as("v"))
      .union(eDegC.select(col("dst").as("v"))).distinct()
    // teleport mass: everywhere 1 for plain PageRank, seed-indicator for
    // personalized. Broadcast-join the (small) seed set at the node scan.
    val nodes = c(seeds match {
      case None => nodes0.withColumn("tp", lit(1L))
      case Some(sd) =>
        val s0 = sd.toDF("sv").select(col("sv").cast("long").as("sv"))
          .distinct()
        nodes0.join(broadcast(s0), nodes0("v") === col("sv"), "left")
          .select(col("v"),
            when(col("sv").isNotNull, 1L).otherwise(0L).as("tp"))
    }) // nodes0.distinct() is already hashpartitioning(v)

    val r0 = init match {
      case None => nodes.select(col("v"), col("tp"), (col("tp") * fp).as("r"))
      case Some(pr) =>
        // warm start from persisted ranks; nodes the snapshot doesn't
        // cover (new endpoints) begin at their teleport init.
        val p0 = pr.select(col("v").cast("long").as("pv"),
          col("rank_fp").cast("long").as("pr"))
        nodes.join(p0, nodes("v") === col("pv"), "left")
          .select(col("v"), col("tp"),
            coalesce(col("pr"), col("tp") * fp).as("r"))
    }
    // Per-iteration joins are SHUFFLE_HASH, not sort-merge: both joins are
    // already co-partitioned (zero exchanges), but SMJ would re-SORT the
    // full cached edge relation and the rank vector EVERY iteration —
    // iters × |E| log |E| of pure overhead. Hashing the node-sized side
    // (the rank vector / the contribution sums) streams the big side
    // unsorted; the hint only picks the physical operator, so the plan
    // keeps its single exchange per iteration (the groupBy(dst)).
    var r = r0
    for (i <- 1 to iters) {
      val sums = r.hint("shuffle_hash").join(eDegC, r("v") === eDegC("src"))
        .select(col("dst"), expr("(r * w) div sw").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("acc"))
      r = nodes.join(sums.hint("shuffle_hash"),
          nodes("v") === sums("dst"), "left")
        .select(col("v"), col("tp"),
          (col("tp") * omdFp +
            expr(s"(${dFp}L * coalesce(acc, 0L)) div ${fp}L")).as("r"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters) {
        // Eager local checkpoint: materializes the node-sized rank vector
        // as storage blocks (partitioning preserved — Dataset.checkpoint
        // hands the physical plan's outputPartitioning to the LogicalRDD,
        // so the next iteration's join stays exchange-free on this side)
        // and cuts the lineage, making every shuffle behind it GC-able.
        // The explicit System.gc() drives ContextCleaner promptly — its
        // weak-reference queue otherwise waits for an organic driver GC,
        // which on a driver that mostly coordinates may be never; the
        // checkpoint cadence is chosen to make iteration shuffles
        // reclaimable, so reclaim them NOW, inside the window the cadence
        // bought. The superseded checkpoint is released at once.
        val prev = r
        r = c.checkpoint(r)
        c.release(prev)
        System.gc()
      }
    }
    r.select(col("v"), col("r").as("rank_fp"))
  }

  /** Continue the iteration from persisted ranks: ranks(e, a) resumed for
    * b more iterations equals ranks(e, a+b) bit for bit (the iteration
    * map depends only on the current rank vector), so a stored rank
    * snapshot is a checkpoint, not an approximation — the graph twin of
    * the persisted-index pattern (Bm25/SemDeDup), gated by sharing the
    * full-run oracle.
    */
  def resume(prev: DataFrame, edges: DataFrame, srcCol: String,
             dstCol: String, iters: Int, fpShift: Int = 20,
             dampNum: Int = 85, dampDen: Int = 100,
             maxNodes: Long = 1L << 22, seeds: Option[DataFrame] = None,
             weightCol: Option[String] = None): DataFrame =
    ranks(edges, srcCol, dstCol, iters, fpShift, dampNum, dampDen,
      maxNodes, seeds, weightCol, init = Some(prev))
}
