package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cols.{q => Q}
import graft.expr.{DotLong, KernelCall, QuantizeInt8, SignBuckets}
import graft.functions.{SimilarityFunctions => S}

/** Scale-safe per-group top-k: a bounded-heap aggregate instead of a
  * global window. A window `partitionBy(group) orderBy(score)` shuffles
  * EVERY candidate row into one partition per group — with few groups
  * (typical ANN: a handful of query vectors vs the whole corpus) that is
  * a catastrophic skew at 100 TB.
  *
  * The aggregate is Spark's own `CollectTopK` — a
  * `TypedImperativeAggregate` whose buffer is a size-k
  * `BoundedPriorityQueue`, so memory is O(k) per group REGARDLESS of how
  * many rows of the group land in a partition (a mega-group never
  * materializes as an array before reduction, unlike a
  * collect_list+sort formulation). Partial aggregation applies as usual:
  * each map task keeps per-group k-heaps, the exchange carries only
  * n_partitions·k serialized entries per group, and the final merge folds
  * heaps into a heap. Ordering is the full item-struct lexicographic
  * order (orderCol first, then payload) — the same total order
  * `array_sort` would use, so ties stay deterministic.
  */
object TopKPerGroup {
  def apply(df: DataFrame, groupCols: Seq[String], orderCol: String,
            k: Int, payload: Seq[String],
            ascending: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
    val item = struct((orderCol +: payload).map(Q): _*)
    // reverse=false keeps the k LARGEST under struct order; true the
    // smallest. The heap's output order is an implementation detail —
    // re-rank with an explicit sort over the <=k survivors (O(k log k)).
    val heap = GraftBridge.column(
      new CollectTopK(GraftBridge.expression(item), k, ascending)
        .toAggregateExpression())
    val ranked = {
      val sorted = array_sort(heap)
      if (ascending) sorted else reverse(sorted)
    }
    val merged = df.groupBy(groupCols.map(Q): _*).agg(ranked.as("top"))
    val exploded = merged.select(
      (groupCols.map(Q) :+ posexplode(col("top"))): _*)
    exploded.select(
      (groupCols.map(Q) :+ (col("pos") + 1).cast("long").as("rank")) ++
      (orderCol +: payload).map(f => col(s"col.$f").as(f)): _*)
  }
}

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * - `bruteForce`: exact top-k cosine — broadcast the (small) query set,
  *   one codegen'd pass over the corpus, two-level top-k reduce. This is
  *   the correct-baseline AND a legitimate scale path (100 TB corpus × few
  *   queries = embarrassingly parallel scan).
  * - `lshTopK`: random-hyperplane (sign-LSH) bucketed search — queries
  *   only compare against corpus vectors sharing a bucket; recall trades
  *   against `tables`/`planesPerTable` as usual for sign-LSH.
  */
object SimilaritySearch {

  /** Symmetric int8 quantization of an embedding column — the compression
    * step of a large embedding store (float32→int8 is 4× less storage and
    * shuffle for candidate generation; exact re-ranking keeps the
    * originals). Per vector: scale = maxAbs/127, q_i = floor(v_i/scale
    * + 0.5) (explicit half-up — both engines' round() differ in tie
    * handling, floor(x+0.5) does not). All-zero vectors quantize to zeros
    * with scale 0. Returns (id, v, scale, q) — the codes themselves, for
    * store-builders; [[quantizeInt8Stats]] is the oracle-verified digest
    * view.
    *
    * Float determinism: the folds (aggregate over the array) run
    * left-to-right sequentially in BOTH engines — unlike a distributed
    * double sum, the per-vector accumulation order is fixed, so the
    * oracle replays it bit-for-bit.
    *
    * Scale: scan-side per-row math, no shuffle.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // one codegen'd pass (graft.expr.QuantizeInt8)
    val sq = KernelCall.column(base("v"), QuantizeInt8)
    base.select(col("id"), col("v"),
      sq.getField("scale").as("scale"), sq.getField("q").as("q"))
  }

  /** Scalar digests of [[quantizeInt8]]'s output — (id, scale, dim, code
    * checksums, squared reconstruction error). This is the VERIFIED view:
    * exact integer checksums compare robustly cross-engine where a raw
    * array column would not; store-builders take the codes from
    * [[quantizeInt8]] itself.
    */
  def quantizeInt8Stats(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeInt8(df, idCol, vecCol)
      .withColumn("err2", aggregate(
        zip_with(col("v"), col("q"), (a, b) => {
          val d = a - b.cast("double") * col("scale"); d * d
        }),
        lit(0.0), (acc, x) => acc + x))
      .select(col("id"), col("scale"), size(col("q")).cast("long").as("dim"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + abs(x)).as("q_l1"),
        col("err2"))

  /** Quantized search index: (id, scale, q) — the int8 codes of
    * [[quantizeInt8]] WITHOUT the float vectors, meant to be persisted
    * once (snapshot/job output) and scanned by [[searchQuantized]]'s
    * first stage. At 100 TB of float64 embeddings the candidate scan is
    * memory-bandwidth-bound; the code table is ~8× smaller (int8 codes +
    * one scale), which is the whole first-stage win.
    */
  def quantizedIndex(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeInt8(corpus, idCol, vecCol).select(col("id"), col("scale"), col("q"))

  /** Two-stage quantized top-k (the standard retrieval architecture):
    * stage 1 ranks ALL candidates by the cosine of their QUANTIZED
    * vectors — scales cancel in cosine, so the score is integer dot /
    * integer norms: exact arithmetic both engines replay bit-for-bit —
    * and keeps the top `rerank` per query (bounded heap); stage 2 joins
    * ONLY those survivors back to the float corpus and re-scores with
    * exact cosine for the final k. Float vectors are touched for
    * queries·rerank rows, not the corpus; the id-only survivor set is
    * the one shuffle between stages. Recall loss is bounded by
    * quantization error and absorbed by rerank > k headroom.
    */
  def searchQuantized(index: DataFrame, corpus: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    // codegen'd long-array dot (graft.expr.DotLong): this evaluates per
    // (corpus × query) candidate pair — the widest inner loop here
    def dotq(a: Column, b: Column): Column = KernelCall.column(a, b, DotLong)
    def n2(q: Column): Column = dotq(q, q)
    val ci = index.select(col("id").as("nid"), col("q").as("cq"))
      .withColumn("cn2", n2(col("cq")))
    val qi = quantizedIndex(queries, idCol, vecCol)
      .select(col("id").as("qid"), col("q").as("qq"))
      .withColumn("qn2", n2(col("qq")))
    val approx = ci.crossJoin(broadcast(qi))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (dotq(col("cq"), col("qq")).cast("double") /
          (sqrt(col("cn2").cast("double")) * sqrt(col("qn2").cast("double"))))
          .as("cq_cos"))
    val survivors = TopKPerGroup(approx, Seq("qid"), "cq_cos", rerank, Seq("nid"))
      .select("qid", "nid")
    val cv = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("cv"))
    val qv = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val exact = survivors.join(cv, "nid").join(broadcast(qv), "qid")
      .select(col("qid"), col("nid"), cos(col("cv"), col("qv")).as("cosine"))
    TopKPerGroup(exact, Seq("qid"), "cosine", k, Seq("nid"))
  }

  /** Deterministic pseudo-random hyperplanes: component j of plane p in
    * table t = md5("t,p,j")-derived value in [-1,1). No RNG state,
    * reproducible across runs/cluster sizes, and — because md5 + the same
    * integer arithmetic exist in DuckDB — replicable by the oracle.
    * Precomputed driver-side: the per-row work is a plain codegen'd
    * dot product against a literal array, no hashing in the hot path.
    */
  def planeWeight(t: Int, p: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$t,$p,$j".getBytes("UTF-8"))
      .take(5).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % 2000001L).toDouble / 1000000.0 - 1.0
  }

  /** All `tables` bucket ids of a vector in one codegen'd pass
    * (graft.expr.SignBuckets): bit p of bucket t = sign of
    * dot(v, plane[t][p]). The sequential fold matches the oracle's
    * list_dot_product exactly (same op order ⇒ same IEEE754 result ⇒ same
    * sign, always).
    */
  private[ops] def signBucketsAll(v: Column, tables: Int, planes: Int,
                                  dim: Int): Column = {
    val w = Array.tabulate(tables * planes * dim) { idx =>
      val t = idx / (planes * dim)
      val r = idx % (planes * dim)
      planeWeight(t, r / dim, r % dim)
    }
    KernelCall.column(v.cast("array<double>"), SignBuckets(tables, planes, dim, w))
  }

  def bruteForce(corpus: DataFrame, queries: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", S.l2Norm(col("cv")))
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", S.l2Norm(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        (S.dot(col("cv"), col("qv")) / (col("cn") * col("qn"))).as("cosine"))
    TopKPerGroup(scored, Seq("qid"), "cosine", k, Seq("nid"))
  }

  /** IVF(-flat) ANN: a coarse quantizer partitions the corpus into
    * inverted lists; each query scans only its `nprobe` nearest lists.
    *
    * The quantizer is a deterministic SAMPLE of corpus vectors (the first
    * `nCentroids` ids) rather than k-means iterations: iterative means
    * are float sums whose value depends on reduction order, which would
    * make results partitioning-dependent — sampling keeps the whole
    * operator reproducible (and oracle-checkable) while preserving the
    * IVF structure: assign once, probe few, scan small.
    *
    * Scale: assignment is one broadcast pass over the corpus (centroids
    * are tiny); the probe join touches ~nprobe/nCentroids of the corpus
    * per query; per-query work is a candidate scan + two-level top-k.
    * Ties break deterministically (assignment: lowest centroid id;
    * ranking: highest id — TopKPerGroup order).
    */
  private def cos(a: Column, b: Column): Column =
    S.dot(a, b) / (S.l2Norm(a) * S.l2Norm(b))

  /** IVF index build — the expensive half of IVF, meant to run ONCE (as a
    * memoized job writing snapshots) while query batches replay only
    * [[ivfSearchIndexed]]. Returns (index, centroids): index is
    * (id, v, cluster) — one broadcast assignment pass over the corpus;
    * centroids is the tiny (cid, cv) quantizer table. Persist the index
    * hashed on `cluster` so probe-time reads are co-located by list.
    */
  def ivfIndex(corpus: DataFrame, idCol: String,
               vecCol: String, nCentroids: Int = 16): (DataFrame, DataFrame) = {
    val v = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = v.filter(col("id") < nCentroids)
      .select(col("id").as("cid"), col("v").as("cv"))
    // assignment: argmax cosine, ties -> lowest centroid id
    val assign = v.crossJoin(broadcast(cents))
      .select(col("id"), col("cid"), cos(col("v"), col("cv")).as("c"))
      .groupBy("id")
      .agg(max(struct(col("c"), (-col("cid")).as("ncid"))).as("m"))
      .select(col("id"), (-col("m.ncid")).cast("long").as("cluster"))
    (v.join(assign, "id"), cents)
  }

  /** Search a prebuilt IVF index: probe selection over the broadcast
    * centroids, candidate scan over only the probed inverted lists,
    * bounded-heap top-k. The corpus is never re-assigned — at 100 TB the
    * assignment pass is the dominant cost and it is paid at index-build
    * time, not per query batch (the same build-once/query-many split as
    * [[graft.ops.Dedup.incrementalMinhash]]'s band index).
    */
  def ivfSearchIndexed(index: DataFrame, cents: DataFrame,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nprobe: Int = 4): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val probes = TopKPerGroup(
      q.crossJoin(broadcast(cents))
        .select(col("qid"), col("cid"), cos(col("qv"), col("cv")).as("c")),
      Seq("qid"), "c", nprobe, Seq("cid"))
      .select(col("qid"), col("cid").as("cluster"))
    val cands = index
      .join(broadcast(probes), Seq("cluster"))
      .filter(col("id") =!= col("qid"))
    val scored = cands.join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("id").as("nid"),
        cos(col("v"), col("qv")).as("cosine"))
    TopKPerGroup(scored, Seq("qid"), "cosine", k, Seq("nid"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int = 16,
              nprobe: Int = 4): DataFrame = {
    val (index, cents) = ivfIndex(corpus, idCol, vecCol, nCentroids)
    ivfSearchIndexed(index, cents, queries, idCol, vecCol, k, nprobe)
  }

  /** Sign-LSH bucketed ANN: corpus hashed once per table; each query only
    * scans matching buckets. The bucket join carries ONLY ids — vectors are
    * joined back for the distinct candidate pairs (the corpus vector is not
    * replicated ×tables through the shuffle). Returns top-k per query among
    * candidates.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int,
              tables: Int = 8, planes: Int = 12): DataFrame = {
    // ONE scan emitting all (table, bucket) pairs via posexplode — a
    // per-table select+union re-reads and re-projects the corpus `tables`×
    def buckets(df: DataFrame, id: String, outId: String) = {
      val v = df.select(col(id).as(outId),
        col(vecCol).cast("array<double>").as("v"))
      v.select(col(outId),
          posexplode(signBucketsAll(col("v"), tables, planes, dim)))
        .toDF(outId, "tbl", "bucket")
    }
    val cvecs = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("cv"))
    val qvecs = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val cands = buckets(corpus, idCol, "nid")
      .join(broadcast(buckets(queries, idCol, "qid")), Seq("tbl", "bucket"))
      .filter(col("nid") =!= col("qid"))
      .select("qid", "nid").distinct()
    val scored = cands.join(cvecs, "nid").join(broadcast(qvecs), "qid")
      .select(col("qid"), col("nid"),
        (S.dot(col("cv"), col("qv")) / (S.l2Norm(col("cv")) * S.l2Norm(col("qv"))))
          .as("cosine"))
    TopKPerGroup(scored, Seq("qid"), "cosine", k, Seq("nid"))
  }
}
