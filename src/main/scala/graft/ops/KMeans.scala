package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cached
import graft.expr.{KernelCall, KMeansAssign, KMeansAssignGrouped, QuantizeLong}

/** Integer-exact k-means over an embedding column — the clustering stage of
  * cluster-aware corpus curation (SemDeDup-style semantic dedup and
  * cluster-balanced sampling both start from exactly this: k-means over
  * document embeddings, then per-cluster policies; Abbas et al. 2023,
  * arXiv:2303.09540).
  *
  * Why integer-exact: float k-means is not replayable — centroid means
  * depend on float summation order, which differs between engines and
  * between runs of the same engine (partial aggregation). Every arithmetic
  * step here is integer, so the assignment is bit-identical wherever it is
  * replayed (the DuckDB oracle runs the same iterations in SQL):
  *
  *  - quantize: `q_i = floor(x_i * 2^quantShift)` — float→double is exact,
  *    multiplying by a power of two is exact, floor is exact. No rounding
  *    mode ambiguity anywhere.
  *  - init: the k rows with the smallest `(md5(cast(id as string)), id)` —
  *    a deterministic pseudo-random draw both engines compute identically
  *    (same trick as the sampling family in [[TrainingPipeline]]).
  *  - centroids live in fixed point: `mu = round(2^fpShift * sum / count)`
  *    with round-half-away-from-zero expressed as truncating integer
  *    division (`(2F|s|+c) div 2c`, sign reapplied) — Scala `/` on Long,
  *    Spark `div` and DuckDB `//` all truncate toward zero.
  *  - assignment: `argmin_j  sum_i (q_i*F - mu_j_i)^2`, ties to the lowest
  *    cluster id via struct-min ordering. All Long arithmetic; with
  *    quantShift=6, fpShift=10, dim=64 the worst-case distance is
  *    64*(2*64*1024)^2 ≈ 2^40 — no overflow.
  *
  * Scale shape: the classic broadcast-centroid Lloyd. Per iteration, one
  * scan computing assignments against the k*dim centroid matrix — a single
  * codegen'd pass ([[graft.expr.KMeansAssign]]), no shuffle —
  * plus one partial-aggregated sum shuffle of at most partitions*k*dim rows
  * (posexplode feeds a map-side combine on (cluster, pos)); only k*dim sums
  * ever reach the driver. The quantized vectors are cached for the
  * iteration loop (ids + dim longs per row — the float embeddings are read
  * once and never shuffled). Cost is O(iters * N * k * dim) compute with
  * O(k * dim) driver state — the same envelope as [[SimilaritySearch]]'s
  * IVF assignment pass.
  */
object KMeans {

  /** One Lloyd update's worth of state: centroids as fixed-point Longs. */
  private type Centroids = Array[Array[Long]]

  private def roundDiv(s: Long, cnt: Long, twoF: Long): Long =
    if (s >= 0) (twoF * s + cnt) / (2 * cnt)
    else -((twoF * (-s) + cnt) / (2 * cnt))

  /** argmin over the centroid matrix — struct(dist, cluster), ties to the
    * lowest cluster id (the tie-break is part of the contract). One
    * codegen'd pass ([[graft.expr.KMeansAssign]]); the matrix rides in the
    * kernel, a reference object, so every Lloyd iteration reuses the same
    * compiled code.
    */
  private def bestOf(q: Column, mus: Centroids, fp: Long): Column =
    KernelCall.column(q, KMeansAssign(mus.head.length, fp, mus.flatten.toArray))

  /** Cluster `df(vecCol)` into (at most) k clusters with `iters` exact
    * Lloyd iterations; returns (idCol, cluster, dist) where `dist` is the
    * integer squared fixed-point distance to the final centroid. Only these
    * three columns are materialized, never the quantized vectors.
    */
  def fixedPoint(df: DataFrame, idCol: String, vecCol: String, k: Int,
                 iters: Int, quantShift: Int = 6, fpShift: Int = 10): DataFrame =
    Cached.frame(assignedIn(_, df, idCol, vecCol, k, iters, quantShift, fpShift)
      .select(col(idCol), col("cluster"), col("dist")))

  /** [[fixedPoint]] plus the quantized vector each row was assigned with —
    * (idCol, cluster, dist, q: array<long>). The cluster-aware curation
    * consumers ([[SemDeDup]]) need q for within-cluster pair distances
    * without re-quantizing; the assignment comes back materialized, so
    * they scan it as often as they like.
    */
  def assigned(df: DataFrame, idCol: String, vecCol: String, k: Int,
               iters: Int, quantShift: Int = 6, fpShift: Int = 10): DataFrame =
    Cached.frame(assignedIn(_, df, idCol, vecCol, k, iters, quantShift, fpShift))

  /** [[assigned]] in the caller's scope, left lazy over the quantized
    * vectors the scope caches.
    */
  private def assignedIn(c: Cached, df: DataFrame, idCol: String,
                         vecCol: String, k: Int, iters: Int, quantShift: Int,
                         fpShift: Int): DataFrame = {
    require(quantShift + fpShift <= 20,
      "quantShift+fpShift beyond 20 bits risks Long overflow in the distance sum")
    val fp = 1L << fpShift
    val q = c(quantize(df, idCol, vecCol, quantShift))
    finish(q, lloyd(q, k, iters, fp), fp, idCol)
  }

  /** Fit alone: the final fixed-point centroid matrix (k × dim longs) —
    * the persistable "model" an incremental consumer assigns NEW batches
    * against ([[SemDeDup.incremental]]) without refitting.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          iters: Int, quantShift: Int = 6,
          fpShift: Int = 10): Array[Array[Long]] = Cached { c =>
    require(quantShift + fpShift <= 20,
      "quantShift+fpShift beyond 20 bits risks Long overflow in the distance sum")
    lloyd(c(quantize(df, idCol, vecCol, quantShift)), k, iters, 1L << fpShift)
  }

  /** Assign rows to a GIVEN centroid matrix (no fitting) — one scan,
    * returns (idCol, cluster, dist, q) like [[assigned]].
    */
  def assignTo(df: DataFrame, idCol: String, vecCol: String,
               mus: Array[Array[Long]], quantShift: Int = 6,
               fpShift: Int = 10): DataFrame = {
    require(mus.nonEmpty, "assignTo: empty centroid matrix")
    require(quantShift + fpShift <= 20,
      "quantShift+fpShift beyond 20 bits risks Long overflow in the distance sum")
    finish(quantize(df, idCol, vecCol, quantShift), mus, 1L << fpShift, idCol)
  }

  /** floor(x * 2^quantShift) per element, as one codegen'd pass
    * ([[graft.expr.QuantizeLong]]).
    */
  private def quantize(df: DataFrame, idCol: String, vecCol: String,
                       quantShift: Int): DataFrame = {
    val qdf = df.select(col(idCol).as("kid"), col(vecCol).as("__v"))
    qdf.select(col("kid"),
      KernelCall.column(qdf("__v"), QuantizeLong(quantShift)()).as("q"))
  }

  private def finish(q: DataFrame, mus: Centroids, fp: Long,
                     idCol: String): DataFrame = {
    val best = bestOf(col("q"), mus, fp)
    q.select(col("kid").as(idCol), best.getField("cluster").as("cluster"),
      best.getField("dist").as("dist"), col("q"))
  }

  /** The exact Lloyd loop over a (kid, q) frame; returns the final
    * fixed-point centroid matrix.
    */
  private def lloyd(q: DataFrame, k: Int, iters: Int, fp: Long): Centroids = {
    require(k >= 1 && iters >= 0, s"need k>=1, iters>=0 (got k=$k iters=$iters)")
    require((fp & (fp - 1)) == 0, "fpShift must give a power of two")
    // Deterministic init: k smallest by (md5(id-as-string), id). The collect
    // is k rows — TakeOrderedAndProject, not a sort of the corpus.
    val seeds = q
      .withColumn("h", md5(col("kid").cast("string").cast("binary")))
      .orderBy(col("h"), col("kid"))
      .limit(k)
      .select(col("q"))
      .collect()
      .map(_.getSeq[Long](0).toArray)
    require(seeds.nonEmpty, "kmeans: empty input")

    var mus: Centroids = seeds.map(_.map(_ * fp))
    for (_ <- 0 until iters) {
      val best = bestOf(col("q"), mus, fp)
      // assignment in the INNER projection: one argmin per row, below the
      // Generate — selecting it alongside posexplode would re-evaluate it
      // for every exploded position. (cluster, pos) partial sums: shuffle
      // carries at most partitions * k * dim pre-combined rows; k*dim
      // reach the driver.
      val sums = q.select(best.getField("cluster").as("cluster"), col("q"))
        .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("cnt"))
        .collect()
      val next = mus.map(_.clone()) // empty cluster: centroid carries over
      sums.foreach { r =>
        val (c, p) = (r.getLong(0).toInt, r.getInt(1))
        next(c)(p) = roundDiv(r.getLong(2), r.getLong(3), 2 * fp)
      }
      mus = next
    }
    mus
  }

  /** Two-level (hierarchical) k-means: a level-1 fit ([[assigned]]) then
    * an independent integer-exact Lloyd WITHIN every level-1 cluster
    * (k2 sub-centroids each, seeded by the same deterministic (md5, id)
    * draw per parent). Leaf cluster id = c1 * k2 + c2; `dist` is the
    * squared fixed-point distance to the LEAF centroid. Returns the
    * [[assigned]] shape: (idCol, cluster, dist, q).
    *
    * This is the constructive answer to SemDeDup's oversized-cluster
    * hazard (see [[SemDeDup.DefaultMaxClusterSize]]): rather than only
    * gating on cluster size, sub-clustering divides every parent by ~k2
    * BY CONSTRUCTION, so the O(c²) within-cluster pair join runs over
    * leaf clusters a k2-th the size — the recursive-split mechanism of
    * Abbas et al. 2023 unrolled one level. (Exact-duplicate blobs are
    * the one thing a Voronoi split cannot divide — identical vectors
    * always co-assign — so the gate remains the backstop for adversarial
    * data.)
    *
    * Scale shape: identical envelope to [[assigned]] run twice — the
    * level-2 loop is one grouped-assignment scan per iteration (a single
    * codegen'd pass, [[graft.expr.KMeansAssignGrouped]], the whole
    * k1·k2·dim matrix riding as one reference object) plus one
    * partial-aggregated sum shuffle of ≤ partitions·k1·k2·dim rows;
    * O(k1·k2·dim) driver state.
    */
  def assignedTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                       k1: Int, iters1: Int, k2: Int, iters2: Int,
                       quantShift: Int = 6, fpShift: Int = 10): DataFrame =
    Cached.frame(assignedTwoLevelIn(_, df, idCol, vecCol, k1, iters1, k2, iters2,
      quantShift, fpShift))

  /** [[assignedTwoLevel]] in the caller's scope: the level-1 assignment is
    * cached there, the leaf assignment is left lazy.
    */
  private def assignedTwoLevelIn(c: Cached, df: DataFrame, idCol: String,
                                 vecCol: String, k1: Int, iters1: Int, k2: Int,
                                 iters2: Int, quantShift: Int,
                                 fpShift: Int): DataFrame = {
    require(k2 >= 1 && iters2 >= 0, s"need k2>=1, iters2>=0 (got k2=$k2 iters2=$iters2)")
    val fp = 1L << fpShift
    val a1 = c(assignedIn(c, df, idCol, vecCol, k1, iters1, quantShift, fpShift)
      .select(col(idCol).as("kid"), col("cluster").as("c1"), col("q")))

    // per-parent seeds: the k2 smallest (md5(id), id) of each parent —
    // ≤ k1·k2 rows reach the driver
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("c1"))
      .orderBy(md5(col("kid").cast("string").cast("binary")), col("kid"))
    val seedRows = a1
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k2)
      .select(col("c1"), col("__rk"), col("q"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getInt(1) - 1, r.getSeq[Long](2).toArray))
    require(seedRows.nonEmpty, "two-level kmeans: empty input")
    val dim = seedRows.head._3.length

    // ragged per-parent matrices (a parent smaller than k2 owns fewer)
    var mus: Array[Array[Array[Long]]] = {
      val byParent = seedRows.groupBy(_._1)
      Array.tabulate(k1) { c1 =>
        byParent.getOrElse(c1, Array.empty).sortBy(_._2)
          .map(_._3.map(_ * fp))
      }
    }
    def flat(m: Array[Array[Array[Long]]]): (Array[Long], Array[Int]) = {
      val offsets = m.scanLeft(0)(_ + _.length)
      (m.flatten.flatten, offsets)
    }
    def bestOf2(m: Array[Array[Array[Long]]]): Column = {
      val (f, o) = flat(m)
      KernelCall.column(col("q"), col("c1"), KMeansAssignGrouped(dim, fp, f, o))
    }

    for (_ <- 0 until iters2) {
      val best = bestOf2(mus)
      val sums = a1.select(col("c1"), best.getField("cluster").as("c2"), col("q"))
        .select(col("c1"), col("c2"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("c1", "c2", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("cnt"))
        .collect()
      val next = mus.map(_.map(_.clone())) // empty subcluster: carry over
      sums.foreach { r =>
        val (c1, c2, p) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getInt(2))
        next(c1)(c2)(p) = roundDiv(r.getLong(3), r.getLong(4), 2 * fp)
      }
      mus = next
    }
    val best = bestOf2(mus)
    a1.select(col("kid").as(idCol),
      (col("c1") * k2 + best.getField("cluster")).as("cluster"),
      best.getField("dist").as("dist"), col("q"))
  }

  /** [[assignedTwoLevel]] without the vectors — (idCol, cluster, dist). */
  def fixedPointTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                         k1: Int, iters1: Int, k2: Int, iters2: Int,
                         quantShift: Int = 6, fpShift: Int = 10): DataFrame =
    Cached.frame(assignedTwoLevelIn(_, df, idCol, vecCol, k1, iters1, k2, iters2,
      quantShift, fpShift).select(col(idCol), col("cluster"), col("dist")))

  /** The DuckDB replay of [[fixedPoint]] as a WITH-chain: one (assign,
    * update) CTE pair per iteration, then the final assignment. Generated,
    * not hand-written, so the oracle always matches the parameters under
    * test. `table`/`idCol`/`vecCol` name the parquet view and columns.
    */
  def oracleSql(table: String, idCol: String, vecCol: String, k: Int,
                iters: Int, quantShift: Int = 6, fpShift: Int = 10): String =
    oracleChain(table, idCol, vecCol, k, iters, quantShift, fpShift) +
      s"\nSELECT $idCol, c AS cluster, dist FROM afin"

  /** The WITH-chain alone, ending in CTE `<prefix>afin` ($idCol, c, dist,
    * plus `<prefix>pts` with the quantized per-position values) — the
    * cluster-aware curation oracles ([[SemDeDup]]) append their own
    * CTEs/SELECT so the clustering replay is shared, never duplicated.
    * `prefix` namespaces every CTE so several independent chains (e.g. the
    * per-subspace fits of [[Pq]]) can live in ONE WITH — with the default
    * empty prefix the output is byte-identical to the historical form.
    */
  def oracleChain(table: String, idCol: String, vecCol: String, k: Int,
                  iters: Int, quantShift: Int = 6, fpShift: Int = 10,
                  prefix: String = ""): String = {
    val scale = 1L << quantShift
    val fp = 1L << fpShift
    def n(s: String): String = prefix + s
    val iterCtes = (1 to iters).map { i =>
      s"""${n(s"d$i")} AS (
         |  SELECT p.$idCol, c.c,
         |    sum((p.qv*$fp - c.mu)*(p.qv*$fp - c.mu)) AS dist
         |  FROM ${n("pts")} p JOIN ${n(s"cent${i - 1}")} c ON p.pos = c.pos
         |  GROUP BY 1, 2),
         |${n(s"a$i")} AS (
         |  SELECT $idCol, c, dist FROM ${n(s"d$i")}
         |  QUALIFY row_number() OVER (PARTITION BY $idCol ORDER BY dist, c) = 1),
         |${n(s"upd$i")} AS (
         |  SELECT a.c, p.pos, sum(p.qv) AS s, count(*) AS cnt
         |  FROM ${n("pts")} p JOIN ${n(s"a$i")} a USING ($idCol)
         |  GROUP BY 1, 2),
         |${n(s"cent$i")} AS (
         |  SELECT c0.c, c0.pos,
         |    CASE WHEN u.cnt IS NULL THEN c0.mu
         |         WHEN u.s >= 0 THEN (${2 * fp}*u.s + u.cnt)//(2*u.cnt)
         |         ELSE -((${2 * fp}*(-u.s) + u.cnt)//(2*u.cnt)) END AS mu
         |  FROM ${n(s"cent${i - 1}")} c0 LEFT JOIN ${n(s"upd$i")} u ON c0.c = u.c AND c0.pos = u.pos)""".stripMargin
    }
    val fin = iters + 1
    s"""WITH ${n("q")} AS (
       |  SELECT $idCol,
       |    list_transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE)*$scale) AS BIGINT)) AS q
       |  FROM $table),
       |${n("seeds")} AS (
       |  SELECT row_number() OVER (ORDER BY md5(CAST($idCol AS VARCHAR)), $idCol) - 1 AS c, q
       |  FROM (SELECT * FROM ${n("q")} ORDER BY md5(CAST($idCol AS VARCHAR)), $idCol LIMIT $k)),
       |${n("cent0")} AS (
       |  SELECT c, generate_subscripts(q, 1) AS pos, unnest(q)*$fp AS mu FROM ${n("seeds")}),
       |${n("pts")} AS (
       |  SELECT $idCol, generate_subscripts(q, 1) AS pos, unnest(q) AS qv FROM ${n("q")}),
       |${iterCtes.mkString(",\n")},
       |${n(s"d$fin")} AS (
       |  SELECT p.$idCol, c.c,
       |    sum((p.qv*$fp - c.mu)*(p.qv*$fp - c.mu)) AS dist
       |  FROM ${n("pts")} p JOIN ${n(s"cent$iters")} c ON p.pos = c.pos
       |  GROUP BY 1, 2),
       |${n("afin")} AS (
       |  SELECT $idCol, c, dist::BIGINT AS dist FROM ${n(s"d$fin")}
       |  QUALIFY row_number() OVER (PARTITION BY $idCol ORDER BY dist, c) = 1)""".stripMargin
  }

  /** [[oracleChain]] extended with the level-2 replay of
    * [[assignedTwoLevel]], ending in CTE `leaf` ($idCol, cluster, dist)
    * with cluster = c1*k2 + c2 — the hierarchical consumers
    * ([[SemDeDup]]) append their CTEs to this like the flat ones append
    * to `afin`.
    */
  def oracleChainTwoLevel(table: String, idCol: String, vecCol: String,
                          k1: Int, iters1: Int, k2: Int, iters2: Int,
                          quantShift: Int = 6, fpShift: Int = 10): String = {
    val fp = 1L << fpShift
    val iterCtes = (1 to iters2).map { i =>
      s"""e$i AS (
         |  SELECT p.$idCol, c.c1, c.c2,
         |    sum((p.qv*$fp - c.mu)*(p.qv*$fp - c.mu)) AS dist
         |  FROM pts2 p JOIN cent2_${i - 1} c ON p.c1 = c.c1 AND p.pos = c.pos
         |  GROUP BY 1, 2, 3),
         |b$i AS (
         |  SELECT $idCol, c1, c2, dist FROM e$i
         |  QUALIFY row_number() OVER (PARTITION BY $idCol ORDER BY dist, c2) = 1),
         |upd2_$i AS (
         |  SELECT b.c1, b.c2, p.pos, sum(p.qv) AS s, count(*) AS cnt
         |  FROM pts2 p JOIN b$i b USING ($idCol)
         |  GROUP BY 1, 2, 3),
         |cent2_$i AS (
         |  SELECT c0.c1, c0.c2, c0.pos,
         |    CASE WHEN u.cnt IS NULL THEN c0.mu
         |         WHEN u.s >= 0 THEN (${2 * fp}*u.s + u.cnt)//(2*u.cnt)
         |         ELSE -((${2 * fp}*(-u.s) + u.cnt)//(2*u.cnt)) END AS mu
         |  FROM cent2_${i - 1} c0
         |  LEFT JOIN upd2_$i u ON c0.c1 = u.c1 AND c0.c2 = u.c2 AND c0.pos = u.pos)""".stripMargin
    }
    val fin = iters2 + 1
    oracleChain(table, idCol, vecCol, k1, iters1, quantShift, fpShift) +
      s""",
         |r2 AS (SELECT $idCol, c AS c1 FROM afin),
         |s2 AS (
         |  SELECT $idCol, c1,
         |    row_number() OVER (PARTITION BY c1
         |      ORDER BY md5(CAST($idCol AS VARCHAR)), $idCol) - 1 AS c2
         |  FROM r2
         |  QUALIFY c2 < $k2),
         |pts2 AS (SELECT p.$idCol, r.c1, p.pos, p.qv FROM pts p JOIN r2 r USING ($idCol)),
         |cent2_0 AS (
         |  SELECT s.c1, s.c2, p.pos, p.qv*$fp AS mu
         |  FROM s2 s JOIN pts p USING ($idCol)),
         |${iterCtes.mkString(",\n")}${if (iterCtes.nonEmpty) "," else ""}
         |e$fin AS (
         |  SELECT p.$idCol, c.c1, c.c2,
         |    sum((p.qv*$fp - c.mu)*(p.qv*$fp - c.mu)) AS dist
         |  FROM pts2 p JOIN cent2_$iters2 c ON p.c1 = c.c1 AND p.pos = c.pos
         |  GROUP BY 1, 2, 3),
         |b$fin AS (
         |  SELECT $idCol, c1, c2, dist FROM e$fin
         |  QUALIFY row_number() OVER (PARTITION BY $idCol ORDER BY dist, c2) = 1),
         |leaf AS (
         |  SELECT $idCol, (c1*$k2 + c2)::BIGINT AS cluster, dist::BIGINT AS dist
         |  FROM b$fin)""".stripMargin
  }

  /** DuckDB replay of [[fixedPointTwoLevel]]. */
  def oracleSqlTwoLevel(table: String, idCol: String, vecCol: String,
                        k1: Int, iters1: Int, k2: Int, iters2: Int,
                        quantShift: Int = 6, fpShift: Int = 10): String =
    oracleChainTwoLevel(table, idCol, vecCol, k1, iters1, k2, iters2,
      quantShift, fpShift) +
      s"\nSELECT $idCol, cluster, dist FROM leaf"
}
