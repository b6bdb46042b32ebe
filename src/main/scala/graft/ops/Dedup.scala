package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Cached
import graft.functions.{SimilarityFunctions => S, TextFunctions => T}

/** Deduplication operators for training-data pipelines.
  *
  * Four families, trading completeness vs cost:
  *  - exact: hash-groupBy — one shuffle on the content hash.
  *  - ngramJaccard: *complete* near-dup pairs via a shingle inverted index
  *    (posting-list self-join) — every pair sharing ≥1 shingle is scored,
  *    so recall is exactly 1.0; cost bounded by shingle co-occurrence.
  *  - minhashLsh: the at-scale path — constant-size signatures, banded LSH
  *    bucket join; recall < 1 tunable via (bands × rows).
  *  - simhash: 64-bit sketch + hamming ≤ k candidate pairs.
  *  - embeddingCosine: near-dup by embedding similarity.
  *
  * All return canonical pairs (id_a < id_b), one row per duplicate pair.
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical content.
    * Returns (id, content-hash, dup_count). Scale: single hash shuffle on
    * the 60-bit fingerprint, map-side combined.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(T.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("fp"), col("dup_count"))

  /** Incremental exact dedup — the daily-ingest shape: drop every row of
    * `batch` whose content fingerprint already appears anywhere in
    * `history` (typically the full snapshot chain), and collapse
    * within-batch duplicates to their min-id representative. Returns the
    * surviving (id, fp) rows.
    *
    * Scale: both sides reduce to fingerprints scan-side, so the shuffles
    * carry (id, long) / (long) only — the history's text column never
    * moves. History fingerprints are distinct-ed first (map-side combine)
    * so the anti-join's build side is one long per UNIQUE historical
    * content, not per row.
    */
  def incrementalExact(batch: DataFrame, history: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val bfp = batch.select(col(idCol),
      T.fingerprint(col(textCol)).as("fp"))
    val hfp = history.select(T.fingerprint(col(textCol)).as("fp")).distinct()
    bfp.join(hfp, Seq("fp"), "left_anti")
      .groupBy("fp").agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("fp"))
  }

  /** Word-n-gram Jaccard pairs with similarity ≥ threshold, computed
    * entirely from COUNTS — no shingle array ever crosses a shuffle.
    *
    * Shingles are 40-bit hashed (set semantics survive hashing; the oracle
    * hashes identically). Candidates are pairs sharing ≥1 "cold" shingle
    * (document frequency ≤ maxDf — a hotter shingle generates O(df²)
    * candidate pairs while almost never being the only witness of a true
    * near-dup). The Jaccard is EXACT for every candidate:
    *
    *   |A∩B| = (shared cold shingles, counted by the inverted-index
    *            self-join itself) + (shared hot shingles, counted by a
    *            second join run only for pairs whose upper-bound score
    *            could reach the threshold)
    *   J     = |A∩B| / (|A| + |B| − |A∩B|)
    *
    * The upper-bound prune (c_hot ≤ min(hot_a, hot_b), J monotone in
    * c_hot) eliminates almost all pairs before the hot-correction join, so
    * the expensive path runs on survivors only. Every shuffle carries only
    * ids and longs.
    *
    * `maxDf` is REQUIRED (no default): it is the parameter that keeps the
    * inverted-index self-join from going O(df²) on stopword-grams, and an
    * unbounded default would be a silent scale-killer at 100 TB. A caller
    * who truly wants the uncapped join passes `Int.MaxValue` explicitly
    * and owns that decision.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   maxDf: Int,
                   n: Int = 3, threshold: Double = 0.8): DataFrame = Cached.frame { c =>
    val withHs = df.select(col(idCol).as("id"),
      S.shingleHashes(col(textCol), n).as("hs"))
    // the posting list feeds FIVE branches (hot, cold, hotPost, sizes, hot
    // counts) — persist it so the shingle+md5 computation runs once, not
    // per branch (MEMORY_AND_DISK: spills instead of recomputing at scale)
    val posting = c(withHs.select(col("id"), explode(col("hs")).as("h")))
    val hot = c(posting.groupBy("h").count()
      .filter(col("count") > maxDf).select("h"))
    val cold = posting.join(hot, Seq("h"), "left_anti")
    val hotPost = posting.join(hot, Seq("h"), "left_semi")

    // per-doc set sizes and per-doc hot-shingle counts
    val szs = posting.groupBy("id").agg(count(lit(1)).as("sz"))
    val hots = hotPost.groupBy("id").agg(count(lit(1)).as("nhot"))
    val docStats = szs.join(hots, Seq("id"), "left")
      .select(col("id"), col("sz"), coalesce(col("nhot"), lit(0L)).as("nhot"))

    // |A∩B| over cold shingles — the self-join IS the counter
    val pairCold = cold.as("x").join(cold.as("y"), Seq("h"))
      .filter(col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("c_cold"))

    val withStats = pairCold
      .join(docStats.select(col("id").as("id_a"), col("sz").as("sz_a"),
        col("nhot").as("nhot_a")), "id_a")
      .join(docStats.select(col("id").as("id_b"), col("sz").as("sz_b"),
        col("nhot").as("nhot_b")), "id_b")
    // upper bound on J if every hot shingle were shared
    val chMax = least(col("nhot_a"), col("nhot_b"))
    val jMax = (col("c_cold") + chMax).cast("double") /
      (col("sz_a") + col("sz_b") - col("c_cold") - chMax).cast("double")
    val survivors = withStats.filter(jMax >= threshold)

    // exact hot correction for survivors only
    val hx = hotPost.select(col("id").as("id_a"), col("h"))
    val hy = hotPost.select(col("id").as("id_b"), col("h"))
    val cHot = survivors.select(col("id_a"), col("id_b"))
      .join(hx, Seq("id_a"))
      .join(hy, Seq("id_b", "h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c_hot"))

    survivors.join(cHot, Seq("id_a", "id_b"), "left")
      .withColumn("c", col("c_cold") + coalesce(col("c_hot"), lit(0L)))
      .select(col("id_a"), col("id_b"),
        (col("c").cast("double") /
         (col("sz_a") + col("sz_b") - col("c")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash + banded-LSH near-dup pairs — the constant-memory at-scale
    * variant: signatures are k longs per doc regardless of doc length;
    * the band shuffle carries ONLY (id, band index, signature slice) —
    * never the shingle sets (round 1 shipped 64 copies of every doc's
    * shingles through this shuffle). Verification joins the distinct
    * candidate id pairs back to the shingle table and re-checks true
    * Jaccard, so precision is exact; recall is the standard 1-(1-t^r)^b
    * curve.
    *
    * Candidates are pairs agreeing on ≥1 band's raw signature slice
    * (array-equality join key — no hash-collision caveat in the oracle
    * comparison).
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, k: Int = 16, bands: Int = 8,
                 threshold: Double = 0.8): DataFrame = Cached.frame { c =>
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val rows = k / bands
    // reused by the band path and both verify joins
    val idx = c(minhashIndex(df, idCol, textCol, n, k))
    val br = bandRows(idx, bands, rows)
    val cands = br.as("x").join(br.as("y"),
        col("x.band") === col("y.band") && col("x.bslice") === col("y.bslice") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val a = idx.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val b = idx.select(col("id").as("id_b"), col("hs").as("hs_b"))
    cands.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        S.jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Minhash index rows — per doc, the hashed shingle set and the k-slot
    * signature (exactly what [[minhashLsh]] computes internally), meant to
    * be persisted once as a snapshot/job output so daily batches dedup
    * against history without ever re-reading historical text.
    *
    * The construction parameters ride along as constant columns `n` and
    * `k`: a persisted index is self-describing, so a later batch built
    * with DIFFERENT parameters is a loud error in [[incrementalMinhash]]
    * instead of silently skewed jaccard (n mismatch — undetectable from
    * the hashes alone) or silently lost recall (k mismatch).
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 16): DataFrame =
    df.select(col(idCol).as("id"), S.shingleHashes(col(textCol), n).as("hs"))
      .select(col("id"), col("hs"), S.minhashSignatureHashed(col("hs"), k).as("sig"),
        lit(n).as("n"), lit(k).as("k"))

  /** One (id, band, r-slot slice) row per band of each index row — the
    * join key material of every LSH path (shared by [[minhashLsh]] and
    * [[incrementalMinhash]] so the banding scheme cannot diverge).
    */
  private def bandRows(idx: DataFrame, bands: Int, rows: Int): DataFrame =
    idx.select(col("id"), posexplode(
        array((0 until bands).map(b =>
          slice(col("sig"), b * rows + 1, rows)): _*)))
      .toDF("id", "band", "bslice")

  /** Incremental minhash-LSH: near-dup pairs (batch × history) ∪ (batch ×
    * batch) from precomputed [[minhashIndex]] rows — the daily-ingest
    * composition where the historical index is built once and only the
    * new batch pays signature computation. Returns (id_a, id_b, jaccard)
    * with id_a always a batch doc; batch-batch pairs have id_a < id_b.
    * Batch and history id spaces must be disjoint.
    *
    * Scale: the band join carries (id, band, r-slot slice) rows only;
    * shingle sets are joined back BY ID for verified candidates alone;
    * historical text is never touched — the index is the only thing that
    * has to exist, which is what makes day-N dedup O(batch), not
    * O(corpus).
    */
  def incrementalMinhash(batchIdx: DataFrame, historyIdx: DataFrame,
                         k: Int = 16, bands: Int = 8,
                         threshold: Double = 0.8): DataFrame = Cached.frame { c =>
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val rows = k / bands
    // the index frames were built with SOME k — a mismatch with this k
    // would not fail: short sig slices make [] === [] band keys (a silent
    // batch×history cross product); long sigs silently halve recall.
    // Guard each row's slot count so the mismatch is an error, not a
    // degradation. Indexes carrying the [[minhashIndex]] `k` column get
    // the declared value checked too (same failure, clearer message).
    def checkedSig(idx: DataFrame) = {
      val sized = idx.withColumn("sig",
        when(size(col("sig")) === k, col("sig")).otherwise(raise_error(concat(
          lit("minhash index row has "), size(col("sig")).cast("string"),
          lit(s" signature slots, expected k=$k")))))
      if (!idx.columns.contains("k")) sized
      else sized.withColumn("sig",
        when(col("k") === k, col("sig")).otherwise(raise_error(concat(
          lit("minhash index was built with k="), col("k").cast("string"),
          lit(s", caller expects k=$k")))))
    }
    // the batch index is referenced four times (two band joins + both
    // verify sides) — cache it, or the batch's signature computation
    // re-executes per reference, violating the "batch pays once" contract
    // (the history side is a persisted snapshot already)
    val batch = c(batchIdx)
    // shingle size n is invisible in the hashes — a batch indexed with a
    // different n than history silently skews every jaccard. When both
    // frames carry [[minhashIndex]]'s `n` column, cross-check each
    // history row against the batch's (broadcast 1-row min/max over the
    // already-persisted batch index — no extra corpus pass). min≠max also
    // catches a frankenstein batch unioned from differently-built indexes.
    // The guard wraps `sig`, NOT `hs`: every history row's sig is sliced
    // by the band explode below, so the check fires per row even when the
    // mismatch yields zero band collisions (the very symptom it exists to
    // catch) — hs is only evaluated for rows that reach the verify join.
    val historyChecked =
      if (!(batchIdx.columns.contains("n") && historyIdx.columns.contains("n"))) historyIdx
      else {
        val bn = broadcast(batch.groupBy()
          .agg(min(col("n")).as("__bn_min"), max(col("n")).as("__bn_max")))
        historyIdx.crossJoin(bn).withColumn("sig",
          when(col("__bn_min").isNull ||
               (col("n") === col("__bn_min") && col("n") === col("__bn_max")),
            col("sig")).otherwise(raise_error(concat(
              lit("minhash index shingle size mismatch: history n="),
              col("n").cast("string"), lit(", batch n="),
              col("__bn_min").cast("string"), lit("..."),
              col("__bn_max").cast("string")))))
          .drop("__bn_min", "__bn_max")
      }
    val bx = bandRows(checkedSig(batch), bands, rows)
    val hx = bandRows(checkedSig(historyChecked), bands, rows)
    val bandEq = col("x.band") === col("y.band") &&
      col("x.bslice") === col("y.bslice")
    val crossPairs = bx.as("x").join(hx.as("y"), bandEq)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val withinPairs = bx.as("x").join(bx.as("y"),
        bandEq && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val cands = crossPairs.unionByName(withinPairs).distinct()
    val a = batch.select(col("id").as("id_a"), col("hs").as("hs_a"))
    // project before the union: the two indexes may disagree on metadata
    // columns (an old persisted index without n/k vs a fresh batch)
    val both = batch.select(col("id").as("id_b"), col("hs").as("hs_b"))
      .unionByName(historyChecked.select(col("id").as("id_b"), col("hs").as("hs_b")))
    cands.join(a, "id_a").join(both, "id_b")
      .select(col("id_a"), col("id_b"),
        S.jaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming over the
    * 40-bit sketch.
    *
    * Candidate generation is the GENERALIZED Manku block scheme (Manku,
    * Jain & Das Sarma, WWW'07 §3): split the hash into `blocks` pieces and
    * build one table per (blocks − maxHamming)-subset of pieces, keyed on
    * those pieces' concatenated bits. A pair within the distance has ≤
    * maxHamming dirty pieces, so some subset is entirely clean
    * (pigeonhole) and the pair meets in that table — the guarantee is
    * exact, not probabilistic, for every `blocks > maxHamming`.
    *
    * Why not the minimal blocks = maxHamming+1 (one piece per table)? Key
    * width. RANDOM collisions between unrelated docs cost
    * ~n²·tables/2^keyBits candidate pairs — quadratic in corpus size —
    * and the minimal scheme's 10-bit keys made exactly that term the
    * dominant shuffle at the 10x scale check (SCALE_CHECK round 10:
    * shuffle slope 1.45 before, with candidates ~n²·4/2^10). The default
    * blocks=5 keys on 2 pieces = 16 bits: 2.5x the replication, 64x fewer
    * random collisions, and the crossover only improves as n grows. At a
    * 5B-doc corpus, push `blocks` higher still (e.g. 8 ⇒ C(8,3)=56 tables
    * on 25-bit keys) — replication is linear in tables while collisions
    * fall exponentially in key width.
    *
    * Result set is banding-independent: the hamming filter decides
    * membership; `blocks` only tunes the candidate volume.
    *
    * `bits` (40 or 60, r20) is the SKETCH-width dial for the same
    * residual: the x10→x100 scale rows measured the random-collision
    * term COMPOUNDING at fixed 40 bits (shuffle slope 1.467 → 1.596,
    * SCALE_CHECK), as the birthday arithmetic predicts. bits=60 keeps
    * the default 10-table replication but keys on 2×12=24 bits — 2^8
    * fewer random collisions than 40-bit at equal replication, and
    * cheaper than blocks=8-on-40-bit (25-bit keys but 56 tables). The
    * per-token hash is the md5-60 fingerprint formulation, so the
    * DuckDB oracle replicates the wide sketch bit-for-bit too
    * (dd_simhash_wide). A 60-bit hamming ball is also tighter in
    * relative terms, so the wide pair set is not comparable to the
    * 40-bit one — it is the sketch you'd deploy at corpus sizes where
    * the 40-bit candidate volume dominates, chosen up front.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              maxHamming: Int = 3, blocks: Int = 5,
              bits: Int = 40): DataFrame = {
    require(blocks > maxHamming,
      s"simhash: need blocks > maxHamming for the pigeonhole guarantee " +
        s"(got blocks=$blocks, maxHamming=$maxHamming)")
    require(bits == 40 || bits == 60,
      s"simhash: bits must be 40 or 60 (md5-prefix hash widths the " +
        s"oracle replicates), got $bits")
    // non-dividing blocks leave the top bits uncovered by any piece —
    // still complete (an uncovered flip dirties no piece), just weaker
    // keys, same as the pre-dial contract
    val width = bits / blocks
    require(width >= 1, s"simhash: $blocks blocks over $bits bits leaves empty pieces")
    def piece(b: Int): org.apache.spark.sql.Column =
      shiftright(col("h"), b * width).bitwiseAND((1L << width) - 1)
    // one table per clean-subset; key = the subset's pieces packed into a
    // long (keep the sketch column once — 8 bytes/row — for the hamming)
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    val sketch = if (bits == 60) S.simhash60 _ else S.simhash40 _
    val withH = df.select(col(idCol).as("id"),
      sketch(T.tokens(T.normalized(col(textCol)))).as("h"))
    val keyed = withH.select(col("id"), col("h"),
      explode(array(combos.zipWithIndex.map { case (subset, t) =>
        val packed = subset.zipWithIndex.map { case (b, i) =>
          shiftleft(piece(b), i * width)
        }.reduce(_.bitwiseOR(_))
        struct(lit(t).as("blk"), packed.as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("h"), col("bk.blk").as("blk"), col("bk.key").as("key"))
    keyed.as("x").join(keyed.as("y"), Seq("blk", "key"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        S.hamming64(col("x.h"), col("y.h")).as("hamming"))
      // hamming is a pure function of the pair, so filtering BEFORE the
      // pair-dedup is equivalent — and shrinks the dropDuplicates shuffle
      // from every block-sharing candidate to actual near-dups only. The
      // bound is null-tolerant (coalesce) on purpose: a null-intolerant
      // predicate on h lets the optimizer infer isnotnull(h) for each join
      // side and push it below the projection that computes h, which then
      // evaluates the sketch (every token's md5) twice per document. A
      // null h has a null key and joins nothing, so the pairs are the same.
      .filter(coalesce(col("hamming"), lit(Int.MaxValue)) <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Duplicate-cluster assignment: connected components over near-dup
    * pairs, labeling every document with the MIN id of its component (the
    * canonical representative a dedup pipeline keeps).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — converges
    * in O(log d) rounds instead of the O(d) of plain min-label
    * propagation, so a pathological chain-shaped component (diameter in
    * the millions at 100 TB) finishes in ~20 rounds, not millions.
    * Per round:
    *   large-star: every node links its LARGER neighbors to the minimum
    *               of its neighborhood (incl. itself);
    *   small-star: every node links its smaller neighbors and itself to
    *               that minimum.
    * The unique fixpoint per component is a star rooted at the component
    * min; the fixpoint test is an exact (count, checksum) pair over the
    * canonical edge set. Deterministic regardless of partitioning; every
    * shuffle carries two longs per edge.
    *
    * Returns (id, cluster) for every id appearing in a pair — including
    * ids that only appear in self-pairs (id_a == id_b), which label
    * themselves; singleton docs are their own cluster by definition (join
    * back with a default). Ids must be integral (cast to long); any other
    * id type is rejected up front — a silent cast-to-null would empty the
    * edge set and return no clusters at all.
    *
    * The edge set is counted first: at or below `localThreshold` edges the
    * components are solved by a driver-side union-find — the same
    * size-gated move as broadcasting a small join side. Near-dup PAIRS are
    * tiny next to the corpus (the 100 TB corpus is the thing that must
    * never be collected; its verified duplicate-pair list routinely fits in
    * tens of MB), and one collect + linear union-find replaces ~5 rounds ×
    * ~6 shuffle stages of star iteration. Above the threshold the
    * alternating-star path below handles arbitrarily large graphs.
    *
    * @param maxIter safety bound; non-convergence within it is an ERROR
    *   (a silently split cluster corrupts dedup downstream) unless
    *   `warnOnly` — there is no legitimate non-converged state at
    *   O(log d): hitting the bound means the input is adversarial or the
    *   bound absurdly low.
    * @param localThreshold max edge count solved driver-side (bounds driver
    *   memory: 1M edges ≈ tens of MB collected); 0 forces the distributed
    *   path.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 30,
                  warnOnly: Boolean = false,
                  localThreshold: Long = 1L << 20): DataFrame = Cached.frame { c =>
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq("id_a", "id_b").foreach { c =>
      val t = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"dupClusters: $c must be an integral type, got ${t.simpleString} — " +
        "hash non-integral ids to long first (e.g. xxhash64)")
    }
    // canonical undirected pairs, oriented u >= v; self-loops carry no
    // connectivity but their ids must still appear in the output
    val canon = c(pairs
      .select(greatest(col("id_a"), col("id_b")).cast("long").as("u"),
              least(col("id_a"), col("id_b")).cast("long").as("v"))
      .distinct())
    val loops = canon.filter(col("u") === col("v")).select(col("u").as("id"))
    val edges0 = canon.filter(col("u") =!= col("v"))
    val labeled =
      if (edges0.count() <= localThreshold)
        localClusters(pairs.sparkSession, edges0.collect())
      else {
        var edges = edges0
        var converged = false
        var i = 0
        var prev: (Long, java.math.BigDecimal) = null
        while (!converged && i < maxIter) {
          // LARGE-STAR over both directions: x's neighborhood min m =
          // min(N(x) ∪ {x}); every neighbor nbr > x re-links to m.
          val bidir = edges.select(col("u").as("x"), col("v").as("nbr"))
            .unionByName(edges.select(col("v").as("x"), col("u").as("nbr")))
          val mins = bidir.groupBy("x").agg(least(min(col("nbr")), col("x")).as("m"))
          val large = bidir.join(mins, "x")
            .filter(col("nbr") > col("x"))
            .select(col("nbr").as("u"), col("m").as("v"))
            .distinct()
          // SMALL-STAR over the (u > v)-oriented result: u's min smaller
          // neighbor m; u and all its other smaller neighbors link to m.
          val mins2 = large.groupBy("u").agg(min(col("v")).as("m"))
          val relinked = large.join(mins2, "u")
            .filter(col("v") =!= col("m"))
            .select(col("v").as("u"), col("m").as("v"))
          val next0 = relinked.unionByName(mins2.select(col("u"), col("m").as("v")))
            .distinct()
          // lineage grows by ~4 joins per round — checkpoint every other round,
          // persist in between; the fixpoint agg below scans every partition,
          // fully materializing the new cache BEFORE the superseded one is
          // released (recompute-through-released-lineage pitfall)
          val next = if ((i + 1) % 2 == 0) c.checkpoint(next0) else c(next0)
          val row = next.agg(count(lit(1)),
            sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).collect()(0)
          val stats = (row.getLong(0), row.getDecimal(1))
          c.release(edges) // superseded — executor storage would grow per round
          edges = next
          converged = prev != null && prev._1 == stats._1 &&
            ((prev._2 == null && stats._2 == null) ||
             (prev._2 != null && stats._2 != null && prev._2.compareTo(stats._2) == 0))
          prev = stats
          i += 1
        }
        if (!converged) {
          val msg = s"graft.ops.Dedup.dupClusters: maxIter=$maxIter reached " +
            "without convergence — cluster labels would be silently split"
          if (warnOnly) System.err.println(s"WARN $msg")
          else throw new IllegalStateException(msg)
        }
        // fixpoint is a star per component: u→v edges ARE the labels; roots
        // (appearing only as v) label themselves
        val roots = edges.select(col("v")).distinct()
          .join(edges.select(col("u").as("v")), Seq("v"), "left_anti")
        val raw = edges.select(col("u").as("id"), col("v").as("cluster"))
          .unionByName(roots.select(col("v").as("id"), col("v").as("cluster")))
        // a non-converged (warnOnly) edge set is not a star — a node can carry
        // several labels and labels can chain; keep the minimum so the output
        // is at least one label per id (possibly non-minimal, as warned)
        if (converged) raw
        else raw.groupBy("id").agg(min(col("cluster")).as("cluster"))
      }
    withSelfLoops(labeled, loops)
  }

  /** Ids appearing only in self-pairs connect to nothing: label themselves. */
  private def withSelfLoops(labeled: DataFrame, loops: DataFrame): DataFrame =
    labeled.unionByName(
      loops.join(labeled, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster")))

  /** Driver-side union-find over a collected (u > v) edge list: min-root
    * union + path-halving find, so the root of every component IS its
    * minimum id — the same fixpoint the star iteration converges to.
    * O(E α(E)) time, one pass; result parallelized back as (id, cluster).
    */
  private def localClusters(spark: org.apache.spark.sql.SparkSession,
                            rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long](rows.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving: point x at its grandparent
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    val ids = new java.util.TreeSet[java.lang.Long]()
    rows.foreach { r =>
      val u = r.getLong(0); val v = r.getLong(1)
      ids.add(u); ids.add(v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    import scala.jdk.CollectionConverters._
    val labeled = ids.asScala.iterator.map(id => (id.longValue, find(id))).toSeq
    import spark.implicits._
    labeled.toDF("id", "cluster")
  }

  /** Span-level exact-substring dedup (the token-window variant of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22): find every token n-gram that also occurs in an EARLIER
    * document (min-doc-id owner keeps its copy), and scrub the covered
    * token spans from all later occurrences. Catches the cross-document
    * boilerplate (headers, license blocks, quoted passages) that
    * document-level dedup can't touch because the surrounding text
    * differs.
    *
    * Returns one row per input document: (idCol, n_tokens, n_dup_ngrams,
    * n_removed, clean_text) where clean_text is the normalized text with
    * every covered token dropped ('' when fully covered).
    *
    * Scale: the positioned-hash explode is the corpus's token count in
    * (id, pos, h) longs — the same cost class as the shingle inverted
    * index; the owner table aggregates map-side; the dup-position rejoin
    * and the per-doc regroup carry only actual duplicate windows, which is
    * tiny unless the corpus is mostly boilerplate. The final join back to
    * the token arrays is doc-id-keyed. Per-row scrub cost is
    * O(tokens × dup windows) via the exists() predicate — bounded by doc
    * length, partition-local.
    *
    * Ids must be orderable; "earlier" = smaller id. n defaults to 10 — long
    * enough that natural text rarely collides, short enough to catch
    * sentence-level quoting.
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               n: Int = 10): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    // the token arrays feed both the gram explode and the final scrub
    // join. Deliberately NOT persisted: the result (and this intermediate)
    // is corpus-sized, so caching would spill ~the whole corpus at scale —
    // two codegen'd tokenize scans are the cheaper side of that trade
    // (ngramJaccard persists because its reuse target is tiny pair sets)
    val toksDf = df.select(col(idCol).as("id"),
      T.tokens(T.normalized(col(textCol))).as("ts"))
    val grams = toksDf
      .select(col("id"), posexplode(S.positionedShingleHashes(col("ts"), n)))
      .toDF("id", "pos", "h")
    val owners = grams.groupBy("h").agg(min(col("id")).as("owner"))
    val perDoc = grams.join(owners, "h")
      .filter(col("id") > col("owner"))
      .groupBy("id").agg(sort_array(collect_list(col("pos"))).as("ps"))
    val joined = toksDf.join(perDoc, Seq("id"), "left")
      .select(col("id"), col("ts"),
        coalesce(col("ps"), lit(Array.emptyIntArray)).as("ps"))
    // token i is covered iff some dup window starting at p spans it
    val clean = filter(col("ts"), (_, i) =>
      !exists(col("ps"), p => p <= i && i < p + n))
    joined.select(
      col("id").as(idCol),
      size(col("ts")).cast("long").as("n_tokens"),
      size(col("ps")).cast("long").as("n_dup_ngrams"),
      (size(col("ts")) - size(clean)).cast("long").as("n_removed"),
      concat_ws(" ", clean).as("clean_text"))
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold. Brute-force
    * O(n²/2) — correct baseline for small corpora; `embeddingCosineLsh`
    * is the at-scale path.
    */
  def embeddingCosine(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", S.l2Norm(col("v")))
    v.as("x").join(v.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        (S.dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Bucketed embedding near-dup — the 100 TB path: sign-LSH buckets
    * (deterministic md5-derived hyperplanes, SimilaritySearch.planeWeight)
    * restrict the pair space to bucket-sharing candidates; exact cosine
    * verifies. Recall follows the sign-LSH curve (cos θ pairs agree on one
    * plane with prob 1−θ/π); the candidate join shuffles only
    * (id, table, bucket) rows — never vectors, never O(n²).
    */
  def embeddingCosineLsh(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, dim: Int,
                         tables: Int = 8, planes: Int = 6): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // ONE scan emitting all (table, bucket) pairs — a per-table
    // select+union re-reads and re-projects the corpus `tables`× at 100 TB;
    // bucket math is a single codegen'd pass (SimilaritySearch.signBucketsAll)
    val bucketed = v.select(col("id"),
        posexplode(SimilaritySearch.signBucketsAll(col("v"), tables, planes, dim)))
      .toDF("id", "tbl", "bucket")
    val cands = bucketed.as("x").join(bucketed.as("y"), Seq("tbl", "bucket"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val a = v.select(col("id").as("id_a"), col("v").as("va"))
    val b = v.select(col("id").as("id_b"), col("v").as("vb"))
    cands.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (S.dot(col("va"), col("vb")) /
         (S.l2Norm(col("va")) * S.l2Norm(col("vb")))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Corpus-wide line dedup (the C4 family's other scrub, Raffel et al.
    * 2020 §2.2 / Dolma's line-level pass): every NON-BLANK line that
    * occurs more than once anywhere in the corpus is kept only at its
    * first occurrence — (doc id, line position) order — and removed from
    * every later one; documents are reassembled without the removed
    * lines. Complements [[dupSpans]]: spans catch quoting inside flowing
    * text, line dedup catches the structural boilerplate (nav bars,
    * cookie banners, license footers) that repeats verbatim as whole
    * lines. Blank lines (trim == "") are structure, not content: always
    * kept, never owners.
    *
    * Returns one row per input document:
    * (idCol, n_lines, n_lines_dropped, text_dedup).
    *
    * Scale: ownership is discovered on ids alone — those passes shuffle
    * only (16-byte binary md5, packed id·2^20+pos key) pairs; the
    * min-owner agg
    * combines map-side; the occurrence↔owner hash join streams hot
    * boilerplate keys (owner side is one row per distinct line, so AQE's
    * skew split applies to the streamed side). Dropped positions fold to
    * ONE small row per affected document — `(id, positions array)` — so
    * text crosses AT MOST the single doc-keyed fold-back exchange, and in
    * the common case (dropped docs ≪ corpus) AQE broadcasts the positions
    * side instead and reassembly is a scan-side `filter(lines, …)` with
    * zero text movement.
    *
    * Ids must be non-negative longs < 2^42 and documents < 2^20 lines
    * (the packed-key layout; violations raise rather than corrupt).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.core.Cols.{q => Q}
    val lines = split(Q(textCol), "\n", -1)
    // ids-only ownership pass: 1-based pos packed beside the id so ONE
    // long both orders occurrences and decodes back to (id, pos)
    val packed = (Q(idCol).cast("long") * lit(1L << 20)) +
      col("pos0").cast("long") + lit(1L)
    val k = when(Q(idCol).cast("long") < 0L ||
        Q(idCol).cast("long") >= lit(1L << 42) || col("pos0") >= lit((1 << 20) - 1),
      raise_error(concat(lit("lineDedup: id/pos outside packed-key range at id="),
        Q(idCol).cast("string")))).otherwise(packed)
    val occ = df
      .select(Q(idCol), posexplode(lines).as(Seq("pos0", "line")))
      .filter(trim(col("line")) =!= "")
      .select(unhex(md5(col("line"))).as("h"), k.as("k"))
    val owners = occ.groupBy("h").agg(min(col("k")).as("k0"))
    val dropped = occ.join(owners, Seq("h"))
      .filter(col("k") =!= col("k0"))
      .select(shiftright(col("k"), 20).as("__doc"),
        col("k").bitwiseAND(lit((1L << 20) - 1)).as("pos"))
    reassemble(df, idCol, textCol, dropped)
  }

  /** The persistent line index [[incrementalLineDedup]] probes: one row
    * per DISTINCT non-blank line, column `h` (md5 as BINARY(16) —
    * `unhex` of the hex digest, so literally 16 bytes/line regardless of
    * line length; the hex-string form would double both the stored index
    * and every probe exchange). The all-time index a daily ingest keeps
    * as a snapshot chain, so history text is hashed once at index-build
    * and never re-read.
    */
  def lineIndex(df: DataFrame, textCol: String): DataFrame = {
    import graft.core.Cols.{q => Q}
    df.select(explode(split(Q(textCol), "\n", -1)).as("line"))
      .filter(trim(col("line")) =!= "")
      .select(unhex(md5(col("line"))).as("h"))
      .distinct()
  }

  /** Incremental [[lineDedup]] — the daily-ingest shape, mirroring
    * [[incrementalExact]]/[[incrementalMinhash]]: drop every non-blank
    * line of `batch` whose hash already appears in `index`
    * (a [[lineIndex]], typically the all-time snapshot chain), dedupe the
    * survivors within the batch by first (id, pos) occurrence, and
    * reassemble. Returns one row per batch document:
    * (idCol, n_lines, n_dropped_history, n_dropped_batch, text_dedup).
    * The updated index for the next ingest is
    * `index ∪ lineIndex(result.text_dedup)` — distinct hashes only.
    *
    * Scale: identical cost model to [[lineDedup]] — ids-only ownership
    * shuffles, at most one doc-keyed text exchange on fold-back — plus a
    * hash semi/anti-join against the index, which carries 16-byte hashes
    * and combines map-side. Within-batch ownership is decided only among
    * lines that SURVIVE the history probe, so a line both in history and
    * repeated in the batch drops everywhere (history owns it).
    */
  def incrementalLineDedup(batch: DataFrame, index: DataFrame,
                           idCol: String, textCol: String): DataFrame = {
    import graft.core.Cols.{q => Q}
    import org.apache.spark.sql.types.{BinaryType, StringType}
    require(index.columns.toSeq == Seq("h"),
      s"index must be a lineIndex (single column h), got ${index.columns.toSeq}")
    // Index format detection: current lineIndex stores BINARY(16) md5;
    // indexes built before the binary switch stored the 32-char hex
    // STRING. Probing a string index with binary hashes (or vice versa)
    // would silently match ZERO history lines — duplicates would pass
    // through undetected — so the probe side adapts to the stored type
    // and anything else is rejected loudly.
    val hType = index.schema("h").dataType
    require(hType == BinaryType || hType == StringType,
      s"lineIndex column h must be BINARY(16) (current format) or the " +
        s"legacy hex STRING, got $hType — rebuild the index with lineIndex()")
    def hashOf(c: org.apache.spark.sql.Column) =
      if (hType == StringType) md5(c) else unhex(md5(c))
    val lines = split(Q(textCol), "\n", -1)
    val packed = (Q(idCol).cast("long") * lit(1L << 20)) +
      col("pos0").cast("long") + lit(1L)
    val k = when(Q(idCol).cast("long") < 0L ||
        Q(idCol).cast("long") >= lit(1L << 42) || col("pos0") >= lit((1 << 20) - 1),
      raise_error(concat(lit("lineDedup: id/pos outside packed-key range at id="),
        Q(idCol).cast("string")))).otherwise(packed)
    val occ = batch
      .select(Q(idCol), posexplode(lines).as(Seq("pos0", "line")))
      .filter(trim(col("line")) =!= "")
      .select(hashOf(col("line")).as("h"), k.as("k"))
    val histDropped = occ.join(index.select(col("h")), Seq("h"), "left_semi")
    val fresh = occ.join(index.select(col("h")), Seq("h"), "left_anti")
    val owners = fresh.groupBy("h").agg(min(col("k")).as("k0"))
    val batchDropped = fresh.join(owners, Seq("h"))
      .filter(col("k") =!= col("k0"))
    def decode(d: DataFrame, tag: String) =
      d.select(shiftright(col("k"), 20).as("__doc"),
        col("k").bitwiseAND(lit((1L << 20) - 1)).as("pos"),
        lit(tag).as("why"))
    val dropped = decode(histDropped, "h").unionByName(decode(batchDropped, "b"))
    reassemble(batch, idCol, textCol, dropped,
      extraCounts = Seq("h" -> "n_dropped_history", "b" -> "n_dropped_batch"))
  }

  /** Fold a dropped-occurrence set — (`__doc`, `pos`[, `why`]) — back onto
    * the document table and reassemble text without the dropped lines.
    * Shared tail of [[lineDedup]] / [[incrementalLineDedup]]; see
    * [[lineDedup]] for the exchange accounting.
    */
  private def reassemble(df: DataFrame, idCol: String, textCol: String,
                         dropped: DataFrame,
                         extraCounts: Seq[(String, String)] = Nil): DataFrame = {
    import graft.core.Cols.{q => Q}
    val lines = split(Q(textCol), "\n", -1)
    val aggs = sort_array(collect_set(col("pos"))).as("__drop_ps") +:
      extraCounts.map { case (tag, name) =>
        sum(when(col("why") === tag, 1L).otherwise(0L)).as(name) }
    val dropPos = dropped.groupBy(col("__doc")).agg(aggs.head, aggs.tail: _*)
    val countCols: Seq[org.apache.spark.sql.Column] =
      if (extraCounts.isEmpty)
        Seq(when(col("__drop_ps").isNull, 0L)
          .otherwise(size(col("__drop_ps")).cast("long")).as("n_lines_dropped"))
      else extraCounts.map { case (_, name) =>
        coalesce(col(name), lit(0L)).as(name) }
    df.join(dropPos, Q(idCol).cast("long") === col("__doc"), "left")
      .select(Q(idCol) +: size(lines).cast("long").as("n_lines") +: countCols :+
        when(col("__drop_ps").isNull, Q(textCol)).otherwise(
          concat_ws("\n", filter(lines,
            (_, i) => !array_contains(col("__drop_ps"), i.cast("long") + 1L))))
          .as("text_dedup"): _*)
  }
}
