package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Cached
import graft.core.Cols.{q => Q}

/** Graph profiling — the one-row report card the graph family's operators
  * are sized against (cf. SemDeDup's cluster report, TrainingPipeline's
  * corpus report): node/edge counts, degree extremes, dangling-node count
  * (PageRank's leak set), and reciprocal-edge count (how symmetric the
  * graph is — a co-occurrence projection reports 100%, a citation graph
  * near 0%). Exact integers only, so it hash-gates.
  *
  * 100 TB shape: ONE per-node degree aggregation (out- and in-degree in
  * the same grouped pass — node count, edge count, dangling count, and
  * both degree extrema all fold out of it in a single global agg) plus
  * one self-join on the (dst, src) key for reciprocity (packed to a
  * single long when ids fit 31 bits — see the gate in [[report]]); the
  * final
  * assembly crossJoins two single-row aggregates (the accepted 1-row
  * pattern). Down from six separate passes (VERDICT r11 item 6).
  */
object Graphs {

  /** Dense-id compaction: a bijection node-id → [0, n) as a (id, did)
    * map, did assigned in ascending id order (a true dense rank). The
    * single-long key packing in [[report]] / [[triangleStats]] engages
    * only when every id fits 31 bits; arbitrary id domains (snapshot
    * strides, hash-derived ids, federated key spaces) miss it even when
    * the NODE COUNT is tiny. Compacting once per graph version — the
    * memoized-job pattern, like the walk family's neighbor index — buys
    * the packed exchange for every downstream census, since n < 2^31
    * for any graph below ~2 billion nodes (and above that the packable
    * gate falls back to two-column keys, same counts).
    *
    * Scale: runs over the NODE set (≪ edges). The global rank is a
    * range-partitioned sort + per-partition offsets from one count pass
    * (RDD zipWithIndex) — never a single-partition window. This is the
    * one deliberate RDD use in the graph family: a distributed
    * order-preserving index assignment has no DataFrame form that avoids
    * a one-partition window.
    */
  def denseIdMap(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sp = edges.sparkSession
    val ids = edges.select(Q(srcCol).cast("long").as("id"))
      .unionAll(edges.select(Q(dstCol).cast("long").as("id")))
      .where(col("id").isNotNull)
      .distinct()
    val ranked = ids.orderBy("id").rdd.zipWithIndex().map {
      case (r, i) => Row(r.getLong(0), i)
    }
    sp.createDataFrame(ranked, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("did", LongType, nullable = false))))
  }

  /** Rewrite `srcCol`/`dstCol` of `edges` through a [[denseIdMap]];
    * every other column rides along. Two id-keyed joins of the edge set
    * — the remap's one-time cost, paid at map-build time under the
    * memoized-job pattern and amortized across every analysis that runs
    * on the compacted snapshot. All census outputs (degree/count/
    * triangle/reciprocity statistics) are invariant under any id
    * bijection, so remapped results hash-match the raw-id oracle —
    * the parity law GraphsSpec pins.
    *
    * DROP CONTRACT (ADVICE r19): an edge whose src or dst is null or
    * fails the long cast is DROPPED here — [[denseIdMap]] filters null
    * ids, and the inner joins then eliminate the edge. This is the SAME
    * rule every census consumer applies to raw edges ([[report]],
    * [[triangles]] and PageRank.normalizedEdges all open with
    * `isNotNull` filters on the cast columns), so remapped and raw-id
    * census outputs agree BY CONSTRUCTION — the GraphsSpec parity law
    * covers a null-bearing edge set. Callers feeding columns where a
    * failed cast is a data error, not a filter, must validate upstream
    * (the DatasetType filter_bad/rehash path); this operator will not
    * silently keep such a row under either id domain.
    */
  def remapDense(edges: DataFrame, idMap: DataFrame,
                 srcCol: String, dstCol: String): DataFrame = {
    val ms = idMap.select(col("id").as("__m_sid"), col("did").as("__m_sdid"))
    val md = idMap.select(col("id").as("__m_did"), col("did").as("__m_ddid"))
    edges.join(ms, Q(srcCol).cast("long") === col("__m_sid"))
      .join(md, Q(dstCol).cast("long") === col("__m_did"))
      .withColumn(srcCol, col("__m_sdid"))
      .withColumn(dstCol, col("__m_ddid"))
      .drop("__m_sid", "__m_sdid", "__m_did", "__m_ddid")
  }

  /** One row: n_nodes, n_edges, n_dangling, max_out_deg, max_in_deg,
    * n_reciprocal — over the DISTINCT directed edge set.
    */
  def report(edges: DataFrame, srcCol: String,
             dstCol: String): DataFrame = Cached.frame { c =>
    val e = c(edges.select(Q(srcCol).cast("long").as("src"),
        Q(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    // One grouped pass builds (v, out-degree, in-degree) for every node;
    // then: n_nodes = count, n_edges = Σ od (each distinct edge counted
    // exactly once at its src), n_dangling = count(od = 0), and the
    // degree extrema are plain maxes (max od over ALL nodes equals the
    // max over out-edge-having nodes whenever any edge exists — a node
    // without out-edges contributes od = 0).
    val degs = e.select(col("src").as("v"), lit(1L).as("o"), lit(0L).as("i"))
      .unionAll(e.select(col("dst").as("v"), lit(0L).as("o"),
        lit(1L).as("i")))
      .groupBy("v").agg(sum(col("o")).as("od"), sum(col("i")).as("id"))
    val summary = degs.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(col("od")), lit(0L)).as("n_edges"),
      count(when(col("od") === 0, 1)).as("n_dangling"),
      // edge-free input: all-zero row, not NULL extrema — the same
      // convention as triangleDiag (r13)
      coalesce(max(col("od")), lit(0L)).as("max_out_deg"),
      coalesce(max(col("id")), lit(0L)).as("max_in_deg"))
    // Reciprocity self-join — the op's one edge-sized exchange. Same
    // 31-bit single-long packing as the triangle census's wedge probe
    // (one cheap aggregate over the cached edge set decides): when every
    // id fits [0, 2^31), each side ships ONE packed long instead of two
    // 8-byte key columns, halving the exchange payload and reducing the
    // join to a single-long key compare. Ids outside the range take the
    // generic two-column path — same count either way.
    val idRange = e.agg(min(least(col("src"), col("dst"))).as("lo"),
      max(greatest(col("src"), col("dst"))).as("hi")).head
    val packable = !idRange.isNullAt(0) && idRange.getLong(0) >= 0L &&
      idRange.getLong(1) < (1L << 31)
    val nRecip = if (packable) {
      val fwd = e.select(shiftleft(col("src"), 32).bitwiseOR(col("dst")).as("k"))
      val rev = e.select(shiftleft(col("dst"), 32).bitwiseOR(col("src")).as("rk"))
      fwd.join(rev, col("k") === col("rk"))
        .agg(count(lit(1)).as("n_reciprocal"))
    } else {
      val rev = e.select(col("dst").as("rsrc"), col("src").as("rdst"))
      e.join(rev,
          col("src") === col("rsrc") && col("dst") === col("rdst"))
        .agg(count(lit(1)).as("n_reciprocal"))
    }
    summary.crossJoin(nRecip)
  }

  /** Census-shape diagnostic: one row (n_wedges, n_candidates,
    * n_oriented_edges, max_oriented_outdeg) where n_candidates is the
    * oriented two-hop join size Σ_v in(v)·out(v) — the EXACT row count
    * [[triangleStats]]'s first join materializes, i.e. the shuffle the
    * census pays. Wedges measure the DATA (Σ d(d−1)/2 grows when
    * replication densifies a fixed node domain); candidates measure the
    * ENGINE (what the degree-ordered orientation admits of those
    * wedges). Candidates tracking wedges at scale = densification;
    * candidates outgrowing wedges = an orientation bug. max_oriented_
    * outdeg checks the O(√m) adjacency bound the orientation exists for.
    */
  def triangleDiag(edges: DataFrame, srcCol: String,
                   dstCol: String): DataFrame = Cached.frame { c =>
    val e = edges.select(Q(srcCol).cast("long").as("src"),
        Q(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val und = c(e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct())
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val wedges = deg.agg(coalesce(sum(expr("(d * (d - 1)) div 2")),
      lit(0L)).as("n_wedges"))
    val ranked = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("lo"), col("b").as("hi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi")))
          .as("o"))
      .select(col("o.lo").as("x"), col("o.hi").as("y"))
    val outs = ranked.groupBy("x").agg(count(lit(1)).as("outn"))
    val ins = ranked.groupBy("y").agg(count(lit(1)).as("inn"))
    val cand = outs.join(ins, outs("x") === ins("y"))
      .agg(coalesce(sum(col("outn") * col("inn")), lit(0L))
        .as("n_candidates"))
    val eStats = outs.agg(count(lit(1)).as("__nv"),
      coalesce(sum(col("outn")), lit(0L)).as("n_oriented_edges"),
      coalesce(max(col("outn")), lit(0L)).as("max_oriented_outdeg"))
      .drop("__nv")
    wedges.crossJoin(cand).crossJoin(eStats)
  }

  /** Triangle census of the UNDIRECTED graph underlying the edge set:
    * one row (n_triangles, n_wedges, global_cc_bp) where n_wedges is the
    * open-or-closed path-of-length-2 count Σ d(d−1)/2 and global_cc_bp
    * the global clustering coefficient 3·triangles/wedges in basis
    * points — exact integers (d(d−1) is even, so the /2 is exact; the
    * final ratio is one floor division).
    *
    * Triangles are counted by the compact-forward algorithm: orient each
    * undirected edge from the LOWER (degree, id) endpoint to the higher —
    * a total order, so every triangle is counted exactly once by the
    * e(a,b)⋈e(b,c)⋈e(a,c) join — and the degree ordering bounds every
    * adjacency list by O(√m) on skewed graphs (the hub node, which would
    * otherwise anchor deg² wedge candidates, becomes a join TARGET
    * instead of a source). The COUNT is orientation-invariant, so the
    * DuckDB oracle replays with the simpler id-ordered orientation and
    * still hash-matches.
    */
  def triangleStats(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = Cached.frame { c =>
    val e = edges.select(Q(srcCol).cast("long").as("src"),
        Q(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    // undirected support: one row per unordered pair
    val und = c(e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct())
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val wedges = deg.agg(coalesce(sum(expr("(d * (d - 1)) div 2")),
      lit(0L)).as("n_wedges"))
    // (degree, id)-ordered orientation
    val ranked = c(und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("lo"), col("b").as("hi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi")))
          .as("o"))
      .select(col("o.lo").as("x"), col("o.hi").as("y")))
    // The wedge-candidate exchange is the op's one super-linear byte
    // stream (Σ d_out² rows — compact-forward bounds d_out by O(√m) but
    // the count still grows faster than m on densifying graphs). When
    // every vertex id fits in 31 bits — one cheap aggregate over the
    // cached edge set decides — the (x, z) probe key packs into a SINGLE
    // long, shrinking each exchanged wedge row from two join columns to
    // one and the second join to a single-long key compare. Ids outside
    // [0, 2^31) take the generic two-column path, same count.
    val idRange = und.agg(min(least(col("a"), col("b"))).as("lo"),
      max(greatest(col("a"), col("b"))).as("hi")).head
    val packable = !idRange.isNullAt(0) && idRange.getLong(0) >= 0L &&
      idRange.getLong(1) < (1L << 31)
    val e1 = ranked
    val e2 = ranked.select(col("x").as("y0"), col("y").as("z"))
    val tri = if (packable) {
      val e3k = ranked.select(
        (shiftleft(col("x"), 32).bitwiseOR(col("y"))).as("k1"))
      e1.join(e2, col("y") === col("y0"))
        .select(shiftleft(col("x"), 32).bitwiseOR(col("z")).as("k"))
        .join(e3k, col("k") === col("k1"))
        .agg(count(lit(1)).as("n_triangles"))
    } else {
      val e3 = ranked.select(col("x").as("x1"), col("y").as("z1"))
      e1.join(e2, col("y") === col("y0"))
        .join(e3, col("x") === col("x1") && col("z") === col("z1"))
        .agg(count(lit(1)).as("n_triangles"))
    }
    tri.crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          expr("(30000 * n_triangles) div n_wedges")).otherwise(0L)
          .as("global_cc_bp"))
  }
}
