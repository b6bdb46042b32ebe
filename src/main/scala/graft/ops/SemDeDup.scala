package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cached
import graft.expr.{KernelCall, SqDistLong}

/** Cluster-aware corpus curation over the [[KMeans]] assignment —
  * SemDeDup-style semantic dedup and cluster-balanced sampling (Abbas et
  * al. 2023, arXiv:2303.09540: k-means over embeddings, then per-cluster
  * policies; reference capability family:
  * accelerator's dsutil dataset pipelines, re-expressed for embeddings).
  *
  * Both operators are integer-exact end to end: clustering is
  * [[KMeans.fixedPoint]], the pair metric is squared Euclidean distance of
  * the QUANTIZED vectors (all Long — for unit-norm embeddings this is the
  * monotone twin of cosine similarity: |a-b|^2 = 2 - 2cos for unit
  * vectors, so a cosine threshold has an exact tauSq counterpart), and the
  * keep-priority is the deterministic (dist-to-centroid DESC, id ASC)
  * order. Every decision therefore replays bit-identically in the
  * generated DuckDB oracle.
  *
  * Scale shape: the within-cluster pairwise compare is SemDeDup's design
  * point — O(sum c_i^2) pairs, bounded by choosing k so clusters stay
  * ~1e4-1e5 rows at corpus scale (the paper runs k ~ 100k over 5B docs).
  * The self-join shuffles (id, dist, q) keyed by cluster — q is dim longs,
  * the float embeddings never enter the shuffle — and the pair distance is
  * one codegen'd loop ([[graft.expr.SqDistLong]]) with the
  * earlier-in-priority predicate applied BEFORE the distance evaluates,
  * halving the evaluated pair count.
  */
object SemDeDup {

  private def sq(c: Column, d: Column): Column = KernelCall.column(c, d, SqDistLong)

  /** Default ceiling for the within-cluster pair join. SemDeDup's O(Σc²)
    * pair compare is sound ONLY while clusters stay bounded — the paper's
    * sizing rule is k ≈ N / (1e4..1e5) so clusters hold ~10k-100k rows
    * (Abbas et al. 2023 run k≈100k over 5B docs). 100k rows is the upper
    * end of that band: one reducer then evaluates ≤ 100k²/2 codegen'd
    * long-array distances, the largest group a single task should own.
    */
  val DefaultMaxClusterSize: Long = 100000L

  /** The skew gate: one ids-only aggregation over the (materialized)
    * assignment. A degenerate fit — k too small for N, or collapsed
    * centroids — otherwise turns the cluster-keyed self-join into a
    * single reducer doing quadratic work, the classic scale-killer, with
    * no signal until the stage straggles at corpus scale. Fails fast with
    * the re-sizing rule instead.
    */
  private def guardClusterSizes(a: DataFrame, maxClusterSize: Long,
                                what: String): Unit = {
    require(maxClusterSize >= 1, s"maxClusterSize must be >= 1, got $maxClusterSize")
    val top = a.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc).limit(1).collect()
    top.headOption.foreach { r =>
      val (c, n) = (r.getLong(0), r.getLong(1))
      require(n <= maxClusterSize,
        s"$what: cluster $c holds $n rows > maxClusterSize=$maxClusterSize; " +
          "the within-cluster pair join is O(c^2) per cluster, so this would " +
          "put quadratic work on one reducer. Increase k so clusters stay " +
          "~1e4-1e5 rows (k ~ N/1e5..1e4, Abbas et al. 2023), sub-cluster the " +
          "oversized clusters, or raise maxClusterSize deliberately.")
    }
  }

  /** Semantic dedup: drop a row when a same-cluster row with higher keep
    * priority sits within `tauSq` (squared quantized distance). Keep
    * priority is (dist-to-centroid DESC, id ASC) — SemDeDup keeps the
    * LEAST prototypical member of a duplicate neighborhood (lowest
    * centroid similarity), ties to the lowest id. The rule is
    * existence-based, not chained: x drops when ANY higher-priority
    * neighbor is within tauSq, whether or not that neighbor itself
    * survives — deterministic, order-free, and exactly one relational
    * EXISTS (no sequential sweep to replay).
    *
    * Returns (idCol, cluster, kept) for every input row.
    *
    * `maxClusterSize` is the skew gate ([[DefaultMaxClusterSize]]): the
    * call fails fast when any cluster exceeds it, because the pair join
    * below is quadratic per cluster. Checked eagerly (the Lloyd fit is
    * already eager, so this adds one ids-only job over the materialized
    * assignment, not a laziness change).
    */
  def semantic(df: DataFrame, idCol: String, vecCol: String, k: Int,
               iters: Int, tauSq: Long, quantShift: Int = 6,
               fpShift: Int = 10,
               maxClusterSize: Long = DefaultMaxClusterSize): DataFrame = {
    require(tauSq >= 0, s"tauSq must be >= 0, got $tauSq")
    val a = KMeans.assigned(df, idCol, vecCol, k, iters, quantShift, fpShift)
    guardClusterSizes(a, maxClusterSize, "SemDeDup.semantic")
    val dropped = droppedWithin(a, idCol, tauSq)
    a.join(dropped.withColumn("__dropped", lit(true)),
        col(idCol) === col("xid"), "left_outer")
      .select(col(idCol), col("cluster"),
        coalesce(col("__dropped"), lit(false)).unary_!.as("kept"))
  }

  /** The EXISTS drop rule over one assignment: ids (as `xid`) of rows
    * with a higher-priority same-cluster neighbor within tauSq. The
    * priority predicate applies BEFORE the codegen'd distance, so the
    * distance only evaluates for the ordered half of each candidate pair.
    */
  private def droppedWithin(a: DataFrame, idCol: String, tauSq: Long): DataFrame = {
    val x = a.select(col(idCol).as("xid"), col("cluster"),
      col("dist").as("xd"), col("q").as("xq"))
    val y = a.select(col(idCol).as("yid"), col("cluster").as("ycluster"),
      col("dist").as("yd"), col("q").as("yq"))
    x.join(y,
        col("cluster") === col("ycluster") &&
          (col("yd") > col("xd") ||
            (col("yd") === col("xd") && col("yid") < col("xid"))) &&
          sq(col("xq"), col("yq")) <= lit(tauSq),
        "left_semi")
      .select(col("xid"))
  }

  /** [[semantic]] over TWO-LEVEL clusters ([[KMeans.assignedTwoLevel]]):
    * the constructive fix for the oversized-cluster hazard — every
    * level-1 cluster is sub-split k2 ways, so the O(c²) pair join runs
    * over leaf clusters ~k2× smaller BY CONSTRUCTION (the recursive-split
    * mechanism of Abbas et al. 2023, one level unrolled). The drop rule,
    * priority, and gate are exactly [[semantic]]'s, applied to leaf
    * clusters; `dist` priority is distance to the LEAF centroid. The gate
    * remains the backstop: exact-duplicate blobs co-assign under any
    * Voronoi split, so pathological inputs still fail fast rather than
    * straggle.
    *
    * Returns (idCol, cluster, kept) with cluster = c1*k2 + c2.
    */
  def semanticHierarchical(df: DataFrame, idCol: String, vecCol: String,
                           k1: Int, iters1: Int, k2: Int, iters2: Int,
                           tauSq: Long, quantShift: Int = 6, fpShift: Int = 10,
                           maxClusterSize: Long = DefaultMaxClusterSize): DataFrame = {
    require(tauSq >= 0, s"tauSq must be >= 0, got $tauSq")
    val a = KMeans.assignedTwoLevel(df, idCol, vecCol, k1, iters1, k2, iters2,
        quantShift, fpShift)
    guardClusterSizes(a, maxClusterSize, "SemDeDup.semanticHierarchical")
    val dropped = droppedWithin(a, idCol, tauSq)
    a.join(dropped.withColumn("__dropped", lit(true)),
        col(idCol) === col("xid"), "left_outer")
      .select(col(idCol), col("cluster"),
        coalesce(col("__dropped"), lit(false)).unary_!.as("kept"))
  }

  /** DuckDB replay of [[semanticHierarchical]]: the two-level chain
    * ([[KMeans.oracleChainTwoLevel]], ending in `leaf`), then the same
    * pair-distance EXISTS rule over leaf clusters.
    */
  def semanticHierarchicalOracleSql(table: String, idCol: String,
                                    vecCol: String, k1: Int, iters1: Int,
                                    k2: Int, iters2: Int, tauSq: Long,
                                    quantShift: Int = 6,
                                    fpShift: Int = 10): String =
    KMeans.oracleChainTwoLevel(table, idCol, vecCol, k1, iters1, k2, iters2,
      quantShift, fpShift) +
      s""",
         |pairdist AS (
         |  SELECT ax.$idCol AS xid,
         |    sum((px.qv - py.qv)*(px.qv - py.qv)) AS d2
         |  FROM leaf ax
         |  JOIN leaf ay ON ax.cluster = ay.cluster
         |    AND (ay.dist > ax.dist OR (ay.dist = ax.dist AND ay.$idCol < ax.$idCol))
         |  JOIN pts px ON px.$idCol = ax.$idCol
         |  JOIN pts py ON py.$idCol = ay.$idCol AND py.pos = px.pos
         |  GROUP BY ax.$idCol, ay.$idCol),
         |dropped AS (SELECT DISTINCT xid FROM pairdist WHERE d2 <= $tauSq)
         |SELECT a.$idCol, a.cluster, (d.xid IS NULL) AS kept
         |FROM leaf a LEFT JOIN dropped d ON a.$idCol = d.xid""".stripMargin

  /** The full curation pipeline as ONE chained computation over ONE
    * k-means fit — the composition the stage operators ([[semantic]],
    * [[prototypePrune]], [[clusterSample]]) are built for, mirroring the
    * reference's chained-jobs idiom
    * (reference: examples/build_dsexample-import_csv.py — each stage
    * consumes the previous stage's dataset):
    *
    *   1. cluster: integer-exact Lloyd fit + assignment (once);
    *   2. semantic dedup: drop rows with a higher-priority same-cluster
    *      neighbor within tauSq;
    *   3. prototype prune: per cluster keep the ceil(keepNum/keepDen
    *      fraction) SURVIVORS farthest from the centroid;
    *   4. cluster-balanced sample: n deterministic (md5, id) draws per
    *      cluster from the pruned set.
    *
    * Scale shape: the float embeddings are read once and quantized in
    * the scan; the assignment (ids + dim-long vectors) is materialized
    * once and feeds every stage, so `q` crosses an exchange only in the
    * cluster-keyed pair join of stage 2. Stages 3-4 are bounded windows
    * over (id, cluster, dist) — the vectors are already gone. All three
    * policy stages share stage 1's cluster partitioning.
    *
    * Returns (idCol, cluster, dist) for the finally-sampled rows.
    */
  def curate(df: DataFrame, idCol: String, vecCol: String, k: Int,
             iters: Int, tauSq: Long, keepNum: Int, keepDen: Int, n: Int,
             quantShift: Int = 6, fpShift: Int = 10,
             maxClusterSize: Long = DefaultMaxClusterSize): DataFrame = {
    require(tauSq >= 0, s"tauSq must be >= 0, got $tauSq")
    require(keepNum >= 0 && keepDen > 0 && keepNum <= keepDen,
      s"keep fraction must be 0 <= $keepNum/$keepDen <= 1")
    require(n >= 1, s"need n >= 1, got $n")
    val a = KMeans.assigned(df, idCol, vecCol, k, iters, quantShift, fpShift)
    guardClusterSizes(a, maxClusterSize, "SemDeDup.curate")
    val surv = a.join(droppedWithin(a, idCol, tauSq),
        col(idCol) === col("xid"), "left_anti")
      .select(col(idCol), col("cluster"), col("dist"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    val pruned = surv
      .withColumn("__rk", row_number().over(
        w.orderBy(col("dist").desc, col(idCol))))
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__rk") <= expr(s"(__n * $keepNum + ${keepDen - 1}) div $keepDen"))
    pruned
      .withColumn("__sk", row_number().over(
        w.orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))))
      .filter(col("__sk") <= n)
      .select(col(idCol), col("cluster"), col("dist"))
  }

  /** DuckDB replay of [[curate]]: the shared [[KMeans.oracleChain]], the
    * semantic EXISTS rule, then the prune and sample windows over the
    * survivor set — every stage appended to ONE chain so the Lloyd replay
    * is never duplicated.
    */
  def curateOracleSql(table: String, idCol: String, vecCol: String,
                      k: Int, iters: Int, tauSq: Long, keepNum: Int,
                      keepDen: Int, n: Int, quantShift: Int = 6,
                      fpShift: Int = 10): String =
    KMeans.oracleChain(table, idCol, vecCol, k, iters, quantShift, fpShift) +
      s""",
         |pairdist AS (
         |  SELECT ax.$idCol AS xid,
         |    sum((px.qv - py.qv)*(px.qv - py.qv)) AS d2
         |  FROM afin ax
         |  JOIN afin ay ON ax.c = ay.c
         |    AND (ay.dist > ax.dist OR (ay.dist = ax.dist AND ay.$idCol < ax.$idCol))
         |  JOIN pts px ON px.$idCol = ax.$idCol
         |  JOIN pts py ON py.$idCol = ay.$idCol AND py.pos = px.pos
         |  GROUP BY ax.$idCol, ay.$idCol),
         |dropped AS (SELECT DISTINCT xid FROM pairdist WHERE d2 <= $tauSq),
         |surv AS (
         |  SELECT a.$idCol, a.c, a.dist FROM afin a
         |  LEFT JOIN dropped d ON a.$idCol = d.xid WHERE d.xid IS NULL),
         |pruned AS (
         |  SELECT $idCol, c, dist FROM surv
         |  QUALIFY row_number() OVER (PARTITION BY c ORDER BY dist DESC, $idCol)
         |    <= (count(*) OVER (PARTITION BY c) * $keepNum + ${keepDen - 1}) // $keepDen)
         |SELECT $idCol, c AS cluster, dist FROM pruned
         |QUALIFY row_number() OVER (PARTITION BY c
         |  ORDER BY md5(CAST($idCol AS VARCHAR)), $idCol) <= $n""".stripMargin

  /** Cluster-balanced sample: the `n` rows of each cluster with the
    * smallest (md5(id-as-string), id) — the same deterministic
    * pseudo-random draw as the [[TrainingPipeline]] sampling family and
    * the [[KMeans]] init, so both engines draw identically. Per-cluster
    * top-n is a bounded window (rank <= n after a per-cluster sort of
    * cluster-sized groups); at corpus scale the clusters are the
    * partitions, so no global sort exists.
    *
    * Returns (idCol, cluster) for the sampled rows.
    */
  def clusterSample(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    iters: Int, n: Int, quantShift: Int = 6,
                    fpShift: Int = 10): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val a = KMeans.fixedPoint(df, idCol, vecCol, k, iters, quantShift, fpShift)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    a.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .select(col(idCol), col("cluster"))
  }

  /** INCREMENTAL semantic dedup — the daily-ingest twin of [[semantic]],
    * completing the incremental family (exact/minhash/line dedup all have
    * one). `history` is the persisted assignment index of the corpus so
    * far — (idCol, cluster, q), the [[KMeans.assigned]]/[[KMeans.assignTo]]
    * shape, typically landed as a snapshot by the job that fitted the
    * centroids — and `mus` is that fit ([[KMeans.fit]]). The batch is
    * assigned to the FROZEN centroids (one scan, no refit: history
    * assignments stay valid, which is the whole point), then a batch row
    * drops when EITHER a same-cluster history row sits within `tauSq`
    * (history is immutable — it always wins) OR a higher-priority
    * same-cluster batch row does (exactly [[semantic]]'s rule).
    *
    * At scale: history vectors are never re-read from the corpus — the
    * index carries the dim-long quantized vectors, the history side
    * shuffles once keyed by cluster, and the batch (daily delta, orders
    * of magnitude smaller) drives both joins.
    *
    * Returns (idCol, cluster, kept) for the BATCH rows only.
    */
  def incremental(batch: DataFrame, history: DataFrame,
                  mus: Array[Array[Long]], idCol: String, vecCol: String,
                  tauSq: Long, quantShift: Int = 6,
                  fpShift: Int = 10,
                  maxClusterSize: Long = DefaultMaxClusterSize): DataFrame =
    Cached.frame { c =>
      incrementalAssigned(
        c(KMeans.assignTo(batch, idCol, vecCol, mus, quantShift, fpShift)),
        history, idCol, tauSq, maxClusterSize)
    }

  /** [[incremental]]'s core over an ALREADY-assigned batch — `ab` is the
    * (idCol, cluster, dist, q) shape of [[KMeans.assignTo]] (cached by
    * the caller; it is scanned three times). The streaming sink assigns
    * once per micro-batch and reuses the frame here.
    *
    * The skew gate checks the BATCH's cluster sizes (one ids-only count
    * per micro-batch — the batch drives both joins, so an oversized batch
    * cluster is what puts quadratic work on a reducer). The history index
    * is assumed gated when it was built: it is the survivor set of a
    * [[semantic]]/[[incremental]] run, both of which enforce the same
    * bound.
    */
  def incrementalAssigned(ab: DataFrame, history: DataFrame, idCol: String,
                          tauSq: Long,
                          maxClusterSize: Long = DefaultMaxClusterSize): DataFrame = {
    require(tauSq >= 0, s"tauSq must be >= 0, got $tauSq")
    guardClusterSizes(ab, maxClusterSize, "SemDeDup.incremental (batch)")
    val x = ab.select(col(idCol).as("xid"), col("cluster"),
      col("dist").as("xd"), col("q").as("xq"))
    val h = history.select(col("cluster").as("hcluster"), col("q").as("hq"))
    val hDrop = x.join(h,
        col("cluster") === col("hcluster") &&
          sq(col("xq"), col("hq")) <= lit(tauSq),
        "left_semi")
      .select(col("xid"))
    val y = ab.select(col(idCol).as("yid"), col("cluster").as("ycluster"),
      col("dist").as("yd"), col("q").as("yq"))
    val bDrop = x.join(y,
        col("cluster") === col("ycluster") &&
          (col("yd") > col("xd") ||
            (col("yd") === col("xd") && col("yid") < col("xid"))) &&
          sq(col("xq"), col("yq")) <= lit(tauSq),
        "left_semi")
      .select(col("xid"))
    val dropped = hDrop.unionByName(bDrop).distinct()
    ab.join(dropped.withColumn("__dropped", lit(true)),
        col(idCol) === col("xid"), "left_outer")
      .select(col(idCol), col("cluster"),
        coalesce(col("__dropped"), lit(false)).unary_!.as("kept"))
  }

  /** DuckDB replay of [[incremental]] where history = `$table` rows
    * matching `histPred` and the batch is the rest: the shared chain fits
    * centroids on history only, then the batch is assigned to the frozen
    * `cent<iters>` matrix and the two drop rules replay relationally.
    */
  def incrementalOracleSql(table: String, idCol: String, vecCol: String,
                           histPred: String, k: Int, iters: Int,
                           tauSq: Long, quantShift: Int = 6,
                           fpShift: Int = 10): String = {
    val scale = 1L << quantShift
    val fp = 1L << fpShift
    KMeans.oracleChain(s"(SELECT * FROM $table WHERE $histPred)",
        idCol, vecCol, k, iters, quantShift, fpShift) +
      s""",
         |qb AS (
         |  SELECT $idCol,
         |    list_transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE)*$scale) AS BIGINT)) AS q
         |  FROM $table WHERE NOT ($histPred)),
         |ptsb AS (SELECT $idCol, generate_subscripts(q, 1) AS pos, unnest(q) AS qv FROM qb),
         |dbat AS (
         |  SELECT p.$idCol, c.c,
         |    sum((p.qv*$fp - c.mu)*(p.qv*$fp - c.mu)) AS dist
         |  FROM ptsb p JOIN cent$iters c ON p.pos = c.pos
         |  GROUP BY 1, 2),
         |abat AS (
         |  SELECT $idCol, c, dist::BIGINT AS dist FROM dbat
         |  QUALIFY row_number() OVER (PARTITION BY $idCol ORDER BY dist, c) = 1),
         |hpair AS (
         |  SELECT ab.$idCol AS bid, sum((pb.qv - ph.qv)*(pb.qv - ph.qv)) AS d2
         |  FROM abat ab JOIN afin ah ON ab.c = ah.c
         |  JOIN ptsb pb ON pb.$idCol = ab.$idCol
         |  JOIN pts ph ON ph.$idCol = ah.$idCol AND ph.pos = pb.pos
         |  GROUP BY ab.$idCol, ah.$idCol),
         |bpair AS (
         |  SELECT ax.$idCol AS bid, sum((px.qv - py.qv)*(px.qv - py.qv)) AS d2
         |  FROM abat ax
         |  JOIN abat ay ON ax.c = ay.c
         |    AND (ay.dist > ax.dist OR (ay.dist = ax.dist AND ay.$idCol < ax.$idCol))
         |  JOIN ptsb px ON px.$idCol = ax.$idCol
         |  JOIN ptsb py ON py.$idCol = ay.$idCol AND py.pos = px.pos
         |  GROUP BY ax.$idCol, ay.$idCol),
         |dropped AS (
         |  SELECT DISTINCT bid FROM hpair WHERE d2 <= $tauSq
         |  UNION SELECT DISTINCT bid FROM bpair WHERE d2 <= $tauSq)
         |SELECT a.$idCol, a.c AS cluster, (d.bid IS NULL) AS kept
         |FROM abat a LEFT JOIN dropped d ON a.$idCol = d.bid""".stripMargin
  }

  /** Prototypicality pruning (SSL-prototype metric of Sorscher et al.
    * 2022, arXiv:2206.14486: data beats scaling laws when you keep the
    * HARD examples): per cluster, keep the ceil(keepFrac * cluster_size)
    * rows farthest from their centroid (dist DESC, ties to the lower id).
    * Integer rank arithmetic — rank and the ceil'd cutoff are exact in
    * both engines, so the kept set replays bit-identically.
    *
    * Returns (idCol, cluster, dist) for the kept rows only.
    */
  def prototypePrune(df: DataFrame, idCol: String, vecCol: String, k: Int,
                     iters: Int, keepNum: Int, keepDen: Int,
                     quantShift: Int = 6, fpShift: Int = 10): DataFrame = {
    require(keepNum >= 0 && keepDen > 0 && keepNum <= keepDen,
      s"keep fraction must be 0 <= $keepNum/$keepDen <= 1")
    val a = KMeans.fixedPoint(df, idCol, vecCol, k, iters, quantShift, fpShift)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    val ord = w.orderBy(col("dist").desc, col(idCol))
    // ceil(n * num / den) in integers: (n*num + den - 1) div den
    a.withColumn("__rk", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__rk") <= expr(s"(__n * $keepNum + ${keepDen - 1}) div $keepDen"))
      .select(col(idCol), col("cluster"), col("dist"))
  }

  /** DuckDB replay of [[prototypePrune]]: shared chain + the same integer
    * rank/cutoff window.
    */
  def prototypePruneOracleSql(table: String, idCol: String, vecCol: String,
                              k: Int, iters: Int, keepNum: Int, keepDen: Int,
                              quantShift: Int = 6, fpShift: Int = 10): String =
    KMeans.oracleChain(table, idCol, vecCol, k, iters, quantShift, fpShift) +
      s"""
         |SELECT $idCol, c AS cluster, dist FROM afin
         |QUALIFY row_number() OVER (PARTITION BY c ORDER BY dist DESC, $idCol)
         |  <= (count(*) OVER (PARTITION BY c) * $keepNum + $keepDen - 1) // $keepDen""".stripMargin

  /** Per-cluster report card — the curation observability companion:
    * size, total/max integer inertia (sum and max of the squared
    * fixed-point distance to centroid), and the min id (a stable
    * exemplar handle). One grouped aggregation over the assignment; all
    * integer, so it hash-replays.
    */
  def clusterReport(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    iters: Int, quantShift: Int = 6,
                    fpShift: Int = 10): DataFrame =
    KMeans.fixedPoint(df, idCol, vecCol, k, iters, quantShift, fpShift)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        sum(col("dist")).as("inertia"),
        max(col("dist")).as("max_dist"),
        min(col(idCol)).as("exemplar_id"))

  /** DuckDB replay of [[clusterReport]]: shared chain + the same agg. */
  def clusterReportOracleSql(table: String, idCol: String, vecCol: String,
                             k: Int, iters: Int, quantShift: Int = 6,
                             fpShift: Int = 10): String =
    KMeans.oracleChain(table, idCol, vecCol, k, iters, quantShift, fpShift) +
      s"""
         |SELECT c AS cluster, count(*) AS n, sum(dist)::BIGINT AS inertia,
         |  max(dist) AS max_dist, min($idCol) AS exemplar_id
         |FROM afin GROUP BY 1""".stripMargin

  /** DuckDB replay of [[semantic]]: the shared [[KMeans.oracleChain]]
    * (ending in `afin` + `pts`), then pair distances over the ordered half
    * of each within-cluster pair and the EXISTS drop rule.
    */
  def semanticOracleSql(table: String, idCol: String, vecCol: String,
                        k: Int, iters: Int, tauSq: Long,
                        quantShift: Int = 6, fpShift: Int = 10): String =
    KMeans.oracleChain(table, idCol, vecCol, k, iters, quantShift, fpShift) +
      s""",
         |pairdist AS (
         |  SELECT ax.$idCol AS xid,
         |    sum((px.qv - py.qv)*(px.qv - py.qv)) AS d2
         |  FROM afin ax
         |  JOIN afin ay ON ax.c = ay.c
         |    AND (ay.dist > ax.dist OR (ay.dist = ax.dist AND ay.$idCol < ax.$idCol))
         |  JOIN pts px ON px.$idCol = ax.$idCol
         |  JOIN pts py ON py.$idCol = ay.$idCol AND py.pos = px.pos
         |  GROUP BY ax.$idCol, ay.$idCol),
         |dropped AS (SELECT DISTINCT xid FROM pairdist WHERE d2 <= $tauSq)
         |SELECT a.$idCol, a.c AS cluster, (d.xid IS NULL) AS kept
         |FROM afin a LEFT JOIN dropped d ON a.$idCol = d.xid""".stripMargin

  /** DuckDB replay of [[clusterSample]]: the shared chain, then the
    * per-cluster (md5, id) top-n window.
    */
  def clusterSampleOracleSql(table: String, idCol: String, vecCol: String,
                             k: Int, iters: Int, n: Int,
                             quantShift: Int = 6, fpShift: Int = 10): String =
    KMeans.oracleChain(table, idCol, vecCol, k, iters, quantShift, fpShift) +
      s"""
         |SELECT $idCol, c AS cluster FROM afin
         |QUALIFY row_number() OVER (PARTITION BY c
         |  ORDER BY md5(CAST($idCol AS VARCHAR)), $idCol) <= $n""".stripMargin
}
