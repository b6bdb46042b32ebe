package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cols.{q => Q}
import graft.expr.{KernelCall, KMeansAssign, PqAdc, QuantizeLong}

/** Product quantization ANN (Jégou et al. 2011): split each dim-D vector
  * into `m` subvectors, learn a `ksub`-centroid codebook per subspace,
  * store each vector as `m` small codes, and answer queries with
  * asymmetric distance (ADC) — a per-query distance TABLE to every
  * centroid of every subspace, so scoring a corpus row is `m` table
  * lookups instead of a D-dim arithmetic pass.
  *
  * Why it's here: PQ is the memory-bound scale path of an embedding
  * store. int8 scalar quantization ([[SimilaritySearch.quantizeInt8]])
  * compresses 4×; PQ at m=8, ksub=16 stores 8 codes for a 64-float
  * vector (~64× smaller), which is what makes a 100 TB embedding corpus
  * scannable at all. The decomposition: codebooks train ONCE (m
  * independent integer-exact k-means fits — [[KMeans.fit]] over sliced
  * vectors, so init draw, Lloyd updates, and tie-breaks are all the
  * replayable fixed-point machinery); encoding is one corpus scan with m
  * codegen'd [[graft.expr.KMeansAssign]] passes over array slices; search
  * never touches float vectors — codes × broadcast per-query tables,
  * summed by the codegen'd [[graft.expr.PqAdc]] gather.
  *
  * Everything is integer-exact (quantized inputs, fixed-point centroids,
  * Long distance tables), so even the APPROXIMATE ADC ranking is
  * bit-replayable in DuckDB and hash-gated — same property the int8
  * two-stage rerank relies on.
  *
  * Scale shape: training shuffles at most partitions·ksub·(D/m) combined
  * rows per Lloyd iteration (m fits); encode and search are shuffle-free
  * scans until the final bounded-heap top-k (n_partitions·k rows per
  * query). The encoded store (id, m codes) is the only corpus-sized
  * artifact a query ever reads.
  */
object Pq {

  /** Upper bound on concurrently-running subspace fits in [[train]].
    *
    * Memory envelope (guide §5): each in-flight [[KMeans.fit]] persists
    * its own quantized slice frame (MEMORY_AND_DISK, id + dim/m longs per
    * row) for the whole Lloyd loop, so peak storage is
    * min(m, TrainPoolBound)/m of one full quantized corpus — at m = 8
    * with the default bound that is the ENTIRE quantized corpus resident
    * at once, where the serial loop held 1/m of it. That is safe wherever
    * the slices may spill (MEMORY_AND_DISK never OOMs the heap by
    * itself), but on a cluster where storage pressure would evict hot
    * shuffle blocks, THIS is the dial: lower it toward 1 to trade
    * overlap for footprint (the serial behaviour is TrainPoolBound = 1).
    * 8 concurrent driver-synchronous job chains is also plenty to
    * back-fill executor idle time (guide §2.6 — "2-3 jobs in flight is
    * plenty"; 8 keeps m = 8's common case fully overlapped).
    */
  val TrainPoolBound = 8

  /** The m per-subspace codebooks: books(j) is a ksub × (dim/m) matrix of
    * fixed-point centroids — [[KMeans.fit]] run on the j-th vector slice.
    * One fit per subspace; each is the broadcast-Lloyd envelope documented
    * on [[KMeans]]. The same (md5(id), id) init draw seeds every subspace,
    * which the oracle replays per subspace chain.
    *
    * 100 TB note: `df` is the TRAINING corpus, and nothing requires it to
    * be the full one — production PQ trains codebooks on a deterministic
    * sample (e.g. `df.filter(id % mod === 0)`, the repo's standard
    * replayable draw) and [[encode]]s everything against the frozen books;
    * the m training scans then touch the sample, and the only full-corpus
    * pass is the single encode scan.
    */
  def train(df: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
            ksub: Int, iters: Int, quantShift: Int = 6,
            fpShift: Int = 10): Array[Array[Array[Long]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val sub = dim / m
    // The m subspace fits are INDEPENDENT (each a pure function of its
    // own vector slice: quantize → init draw → Lloyd chain), but each is
    // a sequence of driver-synchronous jobs (the init collect and one
    // centroid collect per iteration). Submitting them serially leaves
    // the cluster idle during every driver round-trip — m·(iters+2)
    // small jobs in single file. A small thread pool overlaps them
    // (guide §2.6: Spark's scheduler runs concurrent jobs fine; actions
    // are only sequential because the driver calls them sequentially),
    // so one subspace's collect latency back-fills with another's scan.
    // Results are bit-identical: the books array is assembled by
    // subspace index, and no fit reads another's state.
    // Pool size: see [[TrainPoolBound]] for the storage-footprint
    // reasoning behind the cap.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, TrainPoolBound))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fits = (0 until m).map { j =>
        scala.concurrent.Future {
          KMeans.fit(
            df.select(Q(idCol),
              slice(Q(vecCol), j * sub + 1, sub).as(vecCol)),
            idCol, vecCol, ksub, iters, quantShift, fpShift)
        }
      }
      // Await EVERY fit (as Try) before surfacing the first failure:
      // pool.shutdown() does not cancel running tasks, so bailing on the
      // first Await failure would leave in-flight fits running Spark
      // jobs in the background with their exceptions dropped (ADVICE
      // r20). Draining them first keeps the failure path quiet and
      // deterministic.
      val done = fits.map(f => scala.util.Try(scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf)))
      done.collectFirst { case scala.util.Failure(e) => throw e }
      done.map(_.get).toArray
    } finally pool.shutdown()
  }

  private def quant(c: Column, quantShift: Int): Column =
    KernelCall.column(c, QuantizeLong(quantShift)())

  /** (id, q) with q = the codegen'd floor-quantized vector — the shared
    * integer domain of the whole PQ family; exposed so evaluation
    * harnesses (e.g. recall-vs-exact queries) can brute-force in exactly
    * the space PQ approximates.
    */
  def quantized(df: DataFrame, idCol: String, vecCol: String,
                quantShift: Int = 6): DataFrame =
    df.select(Q(idCol).as("nid"), quant(Q(vecCol), quantShift).as("q"))

  private def assign(qArr: Column, mus: Array[Array[Long]], sub: Int,
                     fp: Long): Column =
    KernelCall.column(qArr, KMeansAssign(sub, fp, mus.flatten))

  /** Encode the corpus against frozen codebooks: ONE scan (quantize once,
    * then m codegen'd subspace assignments over slices) → (id, codes)
    * with codes(j) = argmin centroid of subspace j. This is the
    * compressed store a deployment persists; everything downstream reads
    * codes, never vectors.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             books: Array[Array[Array[Long]]], quantShift: Int = 6,
             fpShift: Int = 10): DataFrame = {
    val m = books.length
    require(m >= 1, "encode: empty codebook set")
    val sub = books.head.head.length
    val fp = 1L << fpShift
    val q = df.select(Q(idCol).as("nid"),
      quant(Q(vecCol), quantShift).as("__q"))
    val codes = array((0 until m).map { j =>
      assign(slice(col("__q"), j * sub + 1, sub), books(j), sub, fp)
        .getField("cluster")
    }: _*)
    q.select(col("nid"), codes.as("codes"))
  }

  /** The flat m·ksub ADC table for ONE quantized query vector: entry
    * j·ksub + c is the fixed-point squared distance from the query's j-th
    * subvector to centroid c of codebook j — the same metric
    * [[graft.expr.KMeansAssign]] minimizes, so ADC of a vector against
    * its own code equals its assignment distance.
    */
  def adcTable(books: Array[Array[Array[Long]]], qv: Array[Long],
               fpShift: Int): Array[Long] = {
    val fp = 1L << fpShift
    val sub = books.head.head.length
    books.zipWithIndex.flatMap { case (book, j) =>
      book.map { mu =>
        var acc = 0L
        var i = 0
        while (i < sub) {
          val d = Math.subtractExact(
            Math.multiplyExact(qv(j * sub + i), fp), mu(i))
          acc = Math.addExact(acc, Math.multiplyExact(d, d))
          i += 1
        }
        acc
      }
    }
  }

  /** ADC top-k of `queries` against an ENCODED store + frozen codebooks —
    * the deployment path: codes and books persisted once, queries pay m
    * lookups per corpus row. Queries are quantized through the same
    * expression as the corpus (one tiny job), tables built driver-side
    * (m·ksub longs per query), broadcast, and summed by [[graft.expr.PqAdc]].
    * Self-matches are excluded (ann-pack convention). Returns
    * (qid, rank, adist, nid), rank 1 = smallest distance, ties to the
    * smallest nid.
    */
  def searchEncoded(codes: DataFrame, books: Array[Array[Array[Long]]],
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int, quantShift: Int = 6, fpShift: Int = 10): DataFrame = {
    val s = codes.sparkSession
    val ksub = books.head.length
    val qRows = queries
      .select(Q(idCol).as("qid"), quant(Q(vecCol), quantShift).as("__q"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    import s.implicits._
    val qdf = qRows.map { case (qid, qv) =>
      (qid, adcTable(books, qv, fpShift).toSeq)
    }.toSeq.toDF("qid", "dtab")
    val scored = codes.crossJoin(broadcast(qdf))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        KernelCall.column(col("codes"), col("dtab"), PqAdc(ksub)).as("adist"))
    TopKPerGroup(scored, Seq("qid"), "adist", k, Seq("nid"),
      ascending = true)
  }

  /** Train + encode + search in one call — the batch baseline the
    * persisted-store twin must match bit-for-bit.
    */
  def search(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, dim: Int, m: Int, ksub: Int, iters: Int,
             k: Int, quantShift: Int = 6, fpShift: Int = 10): DataFrame = {
    val books = train(corpus, idCol, vecCol, dim, m, ksub, iters,
      quantShift, fpShift)
    searchEncoded(encode(corpus, idCol, vecCol, books, quantShift, fpShift),
      books, queries, idCol, vecCol, k, quantShift, fpShift)
  }

  /** The query-side probe list: the `nprobe` coarse centroids nearest to
    * each quantized query under the same fixed-point metric, ties to the
    * lowest centroid id — matching both [[graft.expr.KMeansAssign]]'s
    * tie-break and the oracle's (dist, c) row_number order.
    */
  private def probeList(coarse: Array[Array[Long]], qv: Array[Long],
                        nprobe: Int, fp: Long): Seq[Long] =
    coarse.zipWithIndex.map { case (mu, c) =>
      var acc = 0L
      var i = 0
      while (i < mu.length) {
        val d = Math.subtractExact(Math.multiplyExact(qv(i), fp), mu(i))
        acc = Math.addExact(acc, Math.multiplyExact(d, d))
        i += 1
      }
      (acc, c.toLong)
    }.sortBy(identity).take(nprobe).map(_._2).toSeq

  /** IVF-PQ: the production retrieval shape at 100 TB — a coarse
    * [[KMeans]] quantizer partitions the ENCODED store into `nlist`
    * inverted lists, and a query ADC-scans only its `nprobe` nearest
    * lists, i.e. ~nprobe/nlist of the code store instead of all of it
    * (Jégou et al. 2011 §IV; the non-residual IVFADC variant, kept
    * residual-free so every stage reuses the replayable fixed-point
    * machinery unchanged).
    *
    * Plan shape: corpus passes are the one-time builds (coarse fit +
    * assignment, m codebook fits, encode). Search = the (cluster, codes)
    * store × broadcast (qid, probes, dtab) rows, probe predicate applied
    * AT THE SCAN before any ADC arithmetic — on a store bucketed by
    * `cluster` (hashlabel, as a persisted deployment would write it) the
    * probe filter prunes buckets, which is what bounds a query's I/O by
    * nprobe/nlist. Returns (qid, rank, adist, nid).
    */
  def searchIvfPq(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, dim: Int, m: Int, ksub: Int, iters: Int,
                  nlist: Int, nprobe: Int, k: Int, quantShift: Int = 6,
                  fpShift: Int = 10): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, s"need 1 <= nprobe=$nprobe <= nlist=$nlist")
    val s = corpus.sparkSession
    val fp = 1L << fpShift
    // The coarse quantizer and the m codebooks are independent fits over
    // the same corpus — overlap them (guide §2.6, same reasoning as the
    // thread pool inside [[train]]).
    val coarseF = scala.concurrent.Future(KMeans.fit(corpus, idCol,
      vecCol, nlist, iters, quantShift, fpShift))(
      scala.concurrent.ExecutionContext.global)
    // The coarse future is awaited on EVERY path: if train(...) throws,
    // the finally still drains coarseF (as a Try, so a secondary failure
    // doesn't mask the primary one) instead of abandoning its in-flight
    // Spark jobs with the exception silently dropped on
    // ExecutionContext.global (ADVICE r20).
    val books =
      try train(corpus, idCol, vecCol, dim, m, ksub, iters,
        quantShift, fpShift)
      finally scala.util.Try(scala.concurrent.Await.result(coarseF,
        scala.concurrent.duration.Duration.Inf))
    val coarse = scala.concurrent.Await.result(coarseF,
      scala.concurrent.duration.Duration.Inf)
    val store = encode(corpus, idCol, vecCol, books, quantShift, fpShift)
      .join(KMeans.assignTo(corpus, idCol, vecCol, coarse, quantShift, fpShift)
        .select(Q(idCol).as("nid"), col("cluster")), "nid")
    val qRows = queries
      .select(Q(idCol).as("qid"), quant(Q(vecCol), quantShift).as("__q"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    import s.implicits._
    val qdf = qRows.map { case (qid, qv) =>
      (qid, probeList(coarse, qv, nprobe, fp),
        adcTable(books, qv, fpShift).toSeq)
    }.toSeq.toDF("qid", "probes", "dtab")
    // The probe test is null-tolerant (coalesce) on purpose: a
    // null-intolerant predicate on `cluster` lets the optimizer infer
    // isnotnull(cluster) and push it below the projection that computes
    // the assignment, which then evaluates it twice per corpus row. A
    // null cluster is in no probe list either way.
    val scored = store.crossJoin(broadcast(qdf))
      .filter(coalesce(array_contains(col("probes"), col("cluster")), lit(false)) &&
        col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        KernelCall.column(col("codes"), col("dtab"), PqAdc(ksub)).as("adist"))
    TopKPerGroup(scored, Seq("qid"), "adist", k, Seq("nid"),
      ascending = true)
  }

  /** IVF probe observability: per query, how many code-store rows its
    * `nprobe` lists actually contain — (qid, scanned, total). scanned /
    * total is the I/O fraction the nprobe/nlist design bound promises
    * (~25% at the gated 4/16 sizing); publishing it at each measured
    * scale is what turns the "memory-bound 100 TB path" claim from plan
    * shape into numbers (the dd_simhash-histogram pattern applied to
    * retrieval). Re-runs the coarse fit/assign — a diagnostic, untimed.
    */
  def probeStats(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, iters: Int, nlist: Int, nprobe: Int,
                 quantShift: Int = 6, fpShift: Int = 10): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, s"need 1 <= nprobe=$nprobe <= nlist=$nlist")
    val s = corpus.sparkSession
    val fp = 1L << fpShift
    val coarse = KMeans.fit(corpus, idCol, vecCol, nlist, iters,
      quantShift, fpShift)
    val sizes = KMeans.assignTo(corpus, idCol, vecCol, coarse,
      quantShift, fpShift)
      .groupBy("cluster").agg(count(lit(1)).as("n"))
    val total = corpus.count()
    val qRows = queries
      .select(Q(idCol).as("qid"), quant(Q(vecCol), quantShift).as("__q"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    import s.implicits._
    val qdf = qRows.map { case (qid, qv) =>
      (qid, probeList(coarse, qv, nprobe, fp))
    }.toSeq.toDF("qid", "probes")
    // Left join: a probed-but-empty cluster contributes 0 rows scanned,
    // and a query whose probe lists are all empty still reports
    // scanned = 0 instead of vanishing (ADVICE r12 — ScaleCheck's probe
    // fraction averages over these rows).
    qdf.select(col("qid"), explode_outer(col("probes")).as("cluster"))
      .join(sizes, Seq("cluster"), "left")
      .groupBy("qid")
      .agg(coalesce(sum(col("n")), lit(0L)).as("scanned"))
      .withColumn("total", lit(total))
  }
}
