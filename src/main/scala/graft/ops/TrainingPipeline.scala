package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Cached
import graft.functions.{SimilarityFunctions => S, TextFunctions => T}

/** Corpus-preparation operators for training pipelines: deterministic
  * train/val/test splitting, seeded reshuffling, and token-window chunking.
  * All scan-side column math (zero or one shuffle) and md5-arithmetic
  * deterministic, so results are reproducible across runs/cluster sizes and
  * exactly replicable by the DuckDB oracle.
  */
object TrainingPipeline {

  private val M = 1000000L

  /** Per-row split bucket in [0, 1e6): md5(salt || id) as a 60-bit int mod
    * 1e6 (oracle: ('0x'||substr(md5(salt||id),1,15))::BIGINT % 1000000).
    */
  private def bucketOf(idCol: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), idCol.cast("string"))), 1, 15), 16, 10)
      .cast("long") % M

  /** Deterministic train/val/test split: assignment depends only on
    * (salt, id) — stable under re-runs, repartitioning, and corpus growth
    * (a doc never migrates between splits when others are added, unlike
    * randomSplit). `fractions` must sum to 1.
    *
    * Scale: pure scan-side column math — no shuffle, no sampling pass.
    */
  def splitByHash(df: DataFrame, idCol: String, salt: String,
                  fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty, "need at least one split")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val bucket = bucketOf(col(idCol), salt)
    val thresholds = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c * M))
    val pairs = fractions.map(_._1).zip(thresholds)
    val split = pairs.init.foldRight(lit(pairs.last._1): Column) {
      case ((nm, th), acc) => when(bucket < lit(th), lit(nm)).otherwise(acc)
    }
    df.withColumn("split", split)
  }

  /** Seeded deterministic reshuffle: global order by md5(seed || id)
    * (id tiebreak — total order even under hash collisions). The standard
    * "shuffle the corpus once per epoch" primitive, as a range-partitioned
    * sort — ONE shuffle, the minimum any global reorder costs.
    */
  def shuffled(df: DataFrame, idCol: String, seed: String): DataFrame =
    df.orderBy(md5(concat(lit(seed), col(idCol).cast("string"))), col(idCol))

  /** Deterministic stratified sampling: keep a row iff its hash bucket
    * falls under its stratum's rate — the "mix sources at different
    * weights" primitive of corpus assembly (e.g. upsample curated sources,
    * downsample crawl). Assignment depends only on (salt, id, stratum
    * rate), so the sample is reproducible and monotone: lowering a rate
    * only removes rows, never swaps them.
    *
    * Scale: pure scan-side column math — no shuffle, no sampling pass, and
    * the filter is codegen'd into the scan stage.
    */
  def sampleStratified(df: DataFrame, idCol: String, strataCol: String,
                       salt: String, rates: Seq[(String, Double)],
                       defaultRate: Double): DataFrame = {
    require((defaultRate +: rates.map(_._2)).forall(r => r >= 0 && r <= 1),
      "every rate must be in [0, 1]")
    val threshold = rates.foldRight(lit(math.round(defaultRate * M)): Column) {
      case ((k, r), acc) =>
        when(col(strataCol) === lit(k), lit(math.round(r * M))).otherwise(acc)
    }
    df.filter(bucketOf(col(idCol), salt) < threshold)
  }

  /** Per-group contribution cap: keep at most `k` rows per group, selected
    * in deterministic hash order md5(salt || id) (id tiebreak) — the "no
    * single domain may dominate the corpus" cap of web-corpus curation, as
    * a reproducible pseudo-random draw rather than a true sample. Returns
    * (groupCol, idCol, rank), rank 1..k in draw order.
    *
    * Scale: bounded-heap top-k ([[graft.ops.TopKPerGroup]] — O(k) buffer
    * per group), so a mega-domain with billions of rows reduces each
    * input partition to ≤k rows BEFORE the exchange — the skewed key
    * never funnels its raw rows through one reducer (a row_number window
    * would), and no partition ever holds more than k entries of a group
    * in memory.
    */
  def capPerGroup(df: DataFrame, idCol: String, groupCol: String,
                  salt: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // a null id has no stable draw key (md5 of null is null, which the
    // ascending struct sort would rank FIRST, silently displacing keyed
    // rows — and DuckDB's ORDER BY ranks nulls last, so the two engines
    // would even disagree). Unkeyable rows are excluded from the draw.
    val keyed = df.select(col(groupCol), col(idCol))
      .filter(col(idCol).isNotNull)
      .withColumn("__hk", md5(concat(lit(salt), col(idCol).cast("string"))))
    TopKPerGroup(keyed, Seq(groupCol), "__hk", k, Seq(idCol), ascending = true)
      .select(col(groupCol), col(idCol), col("rank"))
  }

  /** Source-weighted epoch expansion: replicate each document
    * floor(w) times, plus one more iff its hash bucket falls under the
    * fractional part — so a stratum with weight 2.5 contributes each doc
    * 2 or 3 times, 2.5× in expectation, deterministically per (salt, id).
    * This is the "N epochs of curated sources, <1 epoch of crawl" mixture
    * primitive of pretraining corpus assembly (weights above 1 are what
    * [[sampleStratified]] can't express). Emits (input columns..., copy),
    * copy in [0, n_copies) — distinct copies of a doc stay distinguishable
    * downstream (e.g. for [[shuffled]] with id ⊕ copy).
    *
    * Scale: scan-side column math + an explode whose output is exactly the
    * training corpus being materialized — no shuffle, no join; the weight
    * table is a compiled when-chain, not a broadcast.
    */
  def epochWeighted(df: DataFrame, idCol: String, strataCol: String,
                    salt: String, weights: Seq[(String, Double)],
                    defaultWeight: Double): DataFrame = {
    require((defaultWeight +: weights.map(_._2)).forall(w => w >= 0 && w <= 100),
      "every weight must be in [0, 100] epochs")
    def copiesFor(w: Double): Column = {
      val whole = math.floor(w).toLong
      val frac = math.round((w - whole) * M)
      // branch is per-stratum CONSTANT: whole + (bucket < frac ? 1 : 0)
      lit(whole) + when(bucketOf(col(idCol), salt) < lit(frac), 1L).otherwise(0L)
    }
    val nCopies = weights.foldRight(copiesFor(defaultWeight)) {
      case ((k, w), acc) => when(col(strataCol) === lit(k), copiesFor(w)).otherwise(acc)
    }
    // guard the 0-copy case: sequence(0, -1) yields [0,-1] (descending),
    // not [] — an unguarded explode would keep one copy of dropped docs
    val copies = when(nCopies > lit(0L), sequence(lit(0L), nCopies - lit(1L)))
      .otherwise(lit(Array.emptyLongArray))
    df.withColumn("copy", explode(copies))
  }

  /** Benchmark decontamination (the GPT-3/PaLM n-gram overlap check): for
    * every training document, the containment of its word-n-gram shingle
    * set in the union of the benchmark set's shingles —
    * |doc ∩ bench| / |doc| — plus the contaminated flag at `threshold`.
    * High containment means the document quotes enough of an eval benchmark
    * to leak it into training.
    *
    * Scale: the benchmark union is SMALL (eval sets are MBs against a
    * 100 TB corpus) — it is deduped once and broadcast, so the corpus scan
    * never shuffles: explode → broadcast-hash lookup → partial agg back to
    * one row per doc (a doc's shingles never leave their partition, so the
    * final exchange carries one (id, counts) row per doc).
    */
  /** Deterministic fixed-SIZE sample: exactly `n` rows — the n smallest
    * md5(salt || id) values, id tiebreak. Fraction-based sampling
    * ([[sampleStratified]]) cannot hit an exact count; a random
    * `orderBy(rand()).limit(n)` is irreproducible. Hash order is both: a
    * uniform draw, and the same draw on every run, cluster size, and
    * engine (the oracle replays it as ORDER BY md5 LIMIT n).
    *
    * Scale: `.orderBy(...).limit(n)` plans as TakeOrderedAndProject —
    * every partition keeps an n-bounded heap, the exchange carries P·n
    * candidate rows to one reducer, and NO global sort or range exchange
    * ever materializes. The spec pins that plan shape.
    */
  def sampleN(df: DataFrame, idCol: String, salt: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val rk = md5(concat(lit(salt), col(idCol).cast("string")))
    df.withColumn("rk", rk)
      .orderBy(col("rk").asc, col(idCol).asc)
      .limit(n)
      .drop("rk")
  }

  /** Weighted fixed-size sample (integer weights): doc selection odds
    * scale with `weightCol` by giving each doc w independent md5 draws and
    * keeping its MINIMUM as the sort key — the replication form of
    * weighted min-hash sampling (min of w uniforms ~ Beta(1, w), so a
    * weight-w doc beats a weight-1 doc w times as often in the limit).
    * Every arithmetic step is md5 + string compare, so the oracle replays
    * the selection EXACTLY — unlike the float pow(u, 1/w) key of
    * Efraimidis–Spirakis, whose libm differences across engines could
    * flip near-ties.
    *
    * Scale: the w draws are a scan-side transform over sequence(1, w) +
    * array_min — no explode, no shuffle of replicas; the top-n reduce is
    * the same TakeOrderedAndProject as [[sampleN]]. Weights are capped by
    * `maxWeight` (the transform materializes w hashes per row — weights
    * are mixture knobs, not unbounded counts).
    */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: String,
                     salt: String, n: Int, maxWeight: Int = 64): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val w = least(greatest(col(weightCol).cast("long"), lit(1L)), lit(maxWeight.toLong))
    val rk = array_min(transform(sequence(lit(1L), w),
      j => md5(concat(lit(salt), col(idCol).cast("string"), lit("-"),
        j.cast("string")))))
    df.withColumn("rk", rk)
      .orderBy(col("rk").asc, col(idCol).asc)
      .limit(n)
      .drop("rk")
  }

  /** Exactly `nPer` rows from EVERY group (source/language/shard):
    * [[sampleN]]'s deterministic hash order, reduced per group by the
    * bounded-heap aggregate (ops.TopKPerGroup) instead of a global top-n —
    * a rank window `partitionBy(group)` would funnel every row of a group
    * through one reducer, while the heap keeps O(nPer) per group per
    * partition and the exchange carries ≤ P·nPer rows per group. Returns
    * (group, rank, id) with rank 1..nPer in hash order.
    */
  def sampleNPerGroup(df: DataFrame, idCol: String, groupCol: String,
                      salt: String, nPer: Int): DataFrame = {
    require(nPer >= 1, s"nPer must be >= 1, got $nPer")
    val keyed = df.withColumn("rk",
      md5(concat(lit(salt), col(idCol).cast("string"))))
    graft.ops.TopKPerGroup(keyed, Seq(groupCol), "rk", nPer, Seq(idCol),
        ascending = true)
      .select(col(groupCol), col("rank"), col(idCol))
  }

  /** [[decontaminate]] with a Bloom-filter prescreen — same EXACT output
    * (it shares pl_decontam's oracle), different 100 TB cost model. The
    * exact form broadcasts the benchmark shingle set as a hash table; at
    * ~100M distinct shingles that is multi-GB per executor. Here the
    * benchmark set is folded DISTRIBUTEDLY into Spark's own
    * `BloomFilterAggregate` (only the serialized m-bit filter reaches the
    * driver — ~1.2 MB per million shingles at fpp 1e-2), the corpus scan
    * probes it through the codegen'd `BloomFilterMightContain` predicate
    * at the scan (a shingle failing the filter is DEFINITELY clean —
    * Bloom filters have no false negatives), and only the tiny surviving
    * fraction (true hits + fpp of the rest) pays an exact semi-join that
    * cancels the false positives. Per-doc totals come scan-side from
    * `size(shingles)` — the full shingle explode never crosses an
    * exchange; the only per-shingle shuffle carries bloom survivors.
    *
    * The corpus text is scanned twice (totals + probe pass), both
    * projections pruned to (id, text); at scale that is far cheaper than
    * shuffling or broadcasting a multi-GB exact set. Bench-side shingling
    * runs twice too (filter build + verify join) — eval sets are MBs.
    */
  def decontaminateBloom(df: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int = 3,
                         threshold: Double = 0.5,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val benchSet = bench
      .select(explode(S.shingleHashes(col(textCol), n)).as("h"))
      .distinct()
    // the count is one cheap agg over the (small) bench set; it sizes the
    // filter so fpp holds rather than guessing expectedNumItems
    val est = math.max(benchSet.count(), 1L)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(est, fpp)
    val bfAgg = new BloomFilterAggregate(
      GraftBridge.expression(col("h")), Literal(est), Literal(numBits), 0, 0)
      .toAggregateExpression()
    val filterBytes = benchSet.select(GraftBridge.column(bfAgg).as("bf"))
      .head.getAs[Array[Byte]](0)
    val might = GraftBridge.column(BloomFilterMightContain(
      Literal.create(filterBytes,
        org.apache.spark.sql.types.BinaryType),
      GraftBridge.expression(col("h"))))
    // per-doc denominators WITHOUT exploding: one scan, no shuffle of
    // shingles; explode semantics kept by dropping shingle-less docs
    val totals = df.select(col(idCol),
        size(S.shingleHashes(col(textCol), n)).cast("long").as("n_shingles"))
      .filter(col("n_shingles") > 0)
    // bloom prescreen at the scan; exact verify (semi-join, NOT broadcast
    // by construction — the planner may still broadcast when small) only
    // on survivors, so false positives cancel and the result is exact
    val hits = df
      .select(col(idCol), explode(S.shingleHashes(col(textCol), n)).as("h"))
      .filter(might)
      .join(benchSet, Seq("h"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("hits"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("hits"), lit(0L)).as("n_overlap"))
      .withColumn("containment",
        col("n_overlap").cast("double") / col("n_shingles").cast("double"))
      .withColumn("contaminated", col("containment") >= threshold)
  }

  /** Per-BENCHMARK contamination report — the governance twin of
    * [[decontaminate]]: instead of a per-document verdict against one
    * pooled benchmark, a one-row-per-benchmark summary of how much of
    * the corpus overlaps each eval set — what a training run publishes
    * beside its data card. Integer outputs only (containment in basis
    * points via floor division, with `cont_bp >= threshold·10⁴` exactly
    * equivalent to `overlap/shingles >= threshold` for thresholds that
    * are multiples of 1/10⁴), so the report hash-gates.
    *
    * Output per benchmark: (bench, n_docs_overlapping,
    * n_docs_contaminated, max_cont_bp, total_overlap_shingles,
    * n_docs_checked, contaminated_bp).
    *
    * Scale: identical cost model to [[decontaminate]] — the benchmark
    * shingle set is eval-set-sized (broadcast), corpus shingles stream
    * through the join without materializing, and the per-(doc, bench)
    * overlap rows are bounded by actual overlap, not corpus size.
    */
  def contaminationReport(df: DataFrame, bench: DataFrame, idCol: String,
                          textCol: String, benchCol: String, n: Int = 3,
                          threshold: Double = 0.5): DataFrame = {
    val thrBp = Math.round(threshold * 10000)
    require(thrBp > 0 && math.abs(threshold * 10000 - thrBp) < 1e-9,
      s"threshold must be a positive multiple of 1/10000, got $threshold")
    val bset = bench
      .select(col(benchCol).as("__b"),
        explode(S.shingleHashes(col(textCol), n)).as("h"))
      .distinct()
    val ex = df.select(col(idCol).as("__id"),
      explode(S.shingleHashes(col(textCol), n)).as("h"))
    val tot = df.select(col(idCol).as("__id"),
        size(S.shingleHashes(col(textCol), n)).cast("long").as("ns"))
      .filter(col("ns") > 0)
    val per = ex.join(broadcast(bset), "h")
      .groupBy(col("__id"), col("__b")).agg(count(lit(1)).as("ov"))
      .join(tot, "__id")
      .withColumn("bp", expr("(10000 * ov) div ns"))
    val agg = per.groupBy(col("__b").as("bench")).agg(
      count(lit(1)).as("n_docs_overlapping"),
      count(when(col("bp") >= thrBp, 1)).as("n_docs_contaminated"),
      max(col("bp")).as("max_cont_bp"),
      sum(col("ov")).as("total_overlap_shingles"))
    // Every declared benchmark keeps a row even with zero overlapping
    // docs — a governance report must distinguish "clean" from "not
    // evaluated". An empty corpus reports contaminated_bp = 0 rather
    // than dividing by n_docs_checked = 0.
    bench.select(col(benchCol).as("bench")).distinct()
      .join(agg, Seq("bench"), "left")
      .crossJoin(broadcast(tot.agg(count(lit(1)).as("n_docs_checked"))))
      .select(col("bench"),
        coalesce(col("n_docs_overlapping"), lit(0L)).as("n_docs_overlapping"),
        coalesce(col("n_docs_contaminated"), lit(0L))
          .as("n_docs_contaminated"),
        coalesce(col("max_cont_bp"), lit(0L)).as("max_cont_bp"),
        coalesce(col("total_overlap_shingles"), lit(0L))
          .as("total_overlap_shingles"),
        col("n_docs_checked"),
        when(col("n_docs_checked") === 0, lit(0L))
          .otherwise(expr(
            "(10000 * coalesce(n_docs_contaminated, 0L)) div n_docs_checked"))
          .as("contaminated_bp"))
  }

  def decontaminate(df: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 3,
                    threshold: Double = 0.5): DataFrame = {
    val benchSet = bench
      .select(explode(S.shingleHashes(col(textCol), n)).as("h"))
      .distinct().withColumn("hit", lit(1L))
    df.select(col(idCol), explode(S.shingleHashes(col(textCol), n)).as("h"))
      .join(broadcast(benchSet), Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
           sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .withColumn("containment",
        col("n_overlap").cast("double") / col("n_shingles").cast("double"))
      .withColumn("contaminated", col("containment") >= threshold)
  }

  /** Token-window chunking: split each document's whitespace tokens into
    * windows of `chunkSize` tokens starting every `stride` tokens
    * (stride < chunkSize ⇒ overlapping context windows). The last chunk may
    * be short; documents with no tokens produce no chunks; every token is
    * covered. Returns (id, chunk_ix, chunk_text, chunk_tokens).
    *
    * Scale: explode fan-out is ~tokens/stride rows per doc — linear in
    * corpus size, no shuffle; the token array never leaves the scan stage.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val nChunks =
      (floor((greatest(col("n") - chunkSize, lit(0)) + lit(stride - 1)) /
        lit(stride)) + 1).cast("int")
    val start = col("chunk_ix") * stride
    val len = least(start + chunkSize, col("n")) - start
    df.select(col(idCol), T.tokens(col(textCol)).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") > 0)
      .withColumn("nchunks", nChunks)
      .select(col(idCol),
        explode(sequence(lit(0), col("nchunks") - 1)).as("chunk_ix"),
        col("t"), col("n"))
      .select(col(idCol), col("chunk_ix").cast("long").as("chunk_ix"),
        concat_ws(" ", slice(col("t"), start + 1, len)).as("chunk_text"),
        len.cast("long").as("chunk_tokens"))
  }

  /** Corpus vocabulary: the top-`topK` normalized tokens by total
    * occurrence count (term frequency), with document frequency, for
    * tokens appearing in at least `minDf` documents. The classic
    * distributed wordcount, which every tokenizer-training and
    * stopword-derivation pipeline starts from.
    *
    * Returns (token, tf, df, rank), rank 1-based by (tf desc, token asc) —
    * a total order, so results are deterministic.
    *
    * Scale: both aggregations are token-keyed with map-side partial
    * combine — the skew of natural-language token frequency (Zipf: "the"
    * is everywhere) is absorbed by the partial aggregation, so no single
    * reducer sees the corpus. The tf/df join happens after both sides
    * collapsed to vocab size. Global top-K is a sort-limit
    * (TakeOrderedAndProject: per-partition heaps, K rows to the driver
    * merge — never a corpus-wide single-partition sort).
    */
  /** Per-group heavy-hitter tokens via the mergeable Misra–Gries summary
    * (expr/HeavyHitters.scala): memory O(k) per group per partition where
    * [[vocabulary]]'s exact token aggregation is O(vocabulary) — the
    * at-scale answer to "top tokens" when the vocabulary itself doesn't
    * fit. Guarantees (per group of n token instances): every token with
    * frequency > n/(k+1) is reported, with a lower-bound count within
    * n/(k+1) of truth. Counts depend on partitioning (inherent to MG), so
    * the raw summary can't hash an oracle — [[heavyHittersChecked]] gates
    * the guarantees instead; the property spec stays in
    * TrainingPipelineSpec.
    */
  def heavyHitters(df: DataFrame, textCol: String, groupCol: String,
                   k: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val toks = df.select(col(groupCol),
      explode(T.tokens(T.normalized(col(textCol)))).as("token"))
    val mg = GraftBridge.column(
      graft.expr.MisraGriesAgg(GraftBridge.expression(col("token")), k)
        .toAggregateExpression())
    toks.groupBy(col(groupCol))
      .agg(mg.as("hh"))
      .select(col(groupCol), explode(col("hh")).as("e"))
      .select(col(groupCol), col("e.token").as("token"), col("e.est").as("est"))
  }

  /** Oracle-gated form of [[heavyHitters]]: MG counts depend on
    * partitioning, but the GUARANTEES don't — they are exact integer set
    * predicates over the exact token counts, which the oracle replays:
    *   (1) est ≤ true_count (MG never over-counts),
    *   (2) true_count − est ≤ n/(k+1)  ⇔  (true−est)·(k+1) ≤ n
    *       (mergeable-summaries bound: error adds sub-linearly across
    *       partition merges, staying ≤ n_total/(k+1) — Agarwal et al.,
    *       PODS'12),
    *   (3) every token with true_count·(k+1) > n is present (it cannot be
    *       evicted: its residual count stays positive under bound 2),
    *   (4) the summary holds ≤ k entries.
    * Output per group: (group, n_tokens, over_violations, under_violations,
    * missed_heavy, size_ok) — n_tokens exact and the checks uniformly
    * 0/true, all DuckDB-replayable. A buggy MG (over-count, bound breach,
    * dropped heavy token, oversized summary) flips a column and fails the
    * hash gate.
    *
    * Scale: the exact token counts exist only to adjudicate the sketch —
    * at 100 TB one runs [[heavyHitters]] alone; the check is the gate's
    * cost, not the operator's. Both joins against the ≤k-row MG side
    * broadcast.
    */
  def heavyHittersChecked(df: DataFrame, textCol: String, groupCol: String,
                          k: Int): DataFrame = {
    val mg = heavyHitters(df, textCol, groupCol, k)
    val toks = df.select(col(groupCol),
      explode(T.tokens(T.normalized(col(textCol)))).as("token"))
    val exact = toks.groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("tc"))
    val tot = toks.groupBy(col(groupCol)).agg(count(lit(1)).as("n_tokens"))
    val viol = mg.join(exact, Seq(groupCol, "token"), "left")
      .withColumn("tc", coalesce(col("tc"), lit(0L)))
      .join(tot, Seq(groupCol))
      .groupBy(col(groupCol), col("n_tokens"))
      .agg(
        sum(when(col("est") > col("tc"), 1L).otherwise(0L))
          .as("over_violations"),
        sum(when((col("tc") - col("est")) * (k + 1) > col("n_tokens"), 1L)
          .otherwise(0L)).as("under_violations"),
        (count(lit(1)) <= k).as("size_ok"))
    val missed = exact.join(tot, Seq(groupCol))
      .filter(col("tc") * (k + 1) > col("n_tokens"))
      .join(broadcast(mg.select(col(groupCol), col("token"),
        lit(1).as("hit"))), Seq(groupCol, "token"), "left")
      .groupBy(col(groupCol))
      .agg(sum(when(col("hit").isNull, 1L).otherwise(0L)).as("missed_heavy"))
    viol.join(missed, Seq(groupCol), "left")
      .select(col(groupCol), col("n_tokens"), col("over_violations"),
        col("under_violations"),
        coalesce(col("missed_heavy"), lit(0L)).as("missed_heavy"),
        col("size_ok"))
  }

  /** Merge two [[heavyHitters]] summaries (same group/token/est shape)
    * without touching raw tokens — the DataFrame form of MisraGriesAgg's
    * mergeable combine (sum per token, subtract the (k+1)-th largest per
    * group, drop non-positive). Error bounds add across merges, so folding
    * daily summaries stays within n_total/(k+1) of truth: the incremental
    * idiom for heavy hitters over a snapshot chain
    * (streaming/Streams.heavyHittersSink).
    *
    * Scale: inputs are ≤k rows per group each; the rank window runs over
    * ≤2k rows per group — bounded, never a corpus-sized window.
    */
  def mergeHeavyHitters(a: DataFrame, b: DataFrame, groupCol: String,
                        k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val summed = a.unionByName(b)
      .groupBy(col(groupCol), col("token"))
      .agg(sum(col("est")).as("est"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("est").desc, col("token").asc)
    val ranked = summed.withColumn("rn", row_number().over(w))
    val kth = ranked.filter(col("rn") === k + 1)
      .select(col(groupCol), col("est").as("m"))
    ranked.filter(col("rn") <= k)
      .join(kth, Seq(groupCol), "left")
      .withColumn("est2", col("est") - coalesce(col("m"), lit(0L)))
      .filter(col("est2") > 0)
      .select(col(groupCol), col("token"), col("est2").as("est"))
  }

  def vocabulary(df: DataFrame, textCol: String,
                 minDf: Int, topK: Int): DataFrame = {
    require(minDf >= 1 && topK >= 1,
      s"need minDf >= 1 and topK >= 1, got minDf=$minDf topK=$topK")
    val toks = df.select(T.tokens(T.normalized(col(textCol))).as("ts"))
    val tf = toks.select(explode(col("ts")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
    val dfc = toks.select(explode(array_distinct(col("ts"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val top = tf.join(dfc, "token")
      .filter(col("df") >= minDf)
      .orderBy(col("tf").desc, col("token").asc)
      .limit(topK)
    // the rank window is unpartitioned BY DESIGN: it runs over the ≤topK
    // rows surviving the limit, not the corpus — bounded, not a scale risk
    import org.apache.spark.sql.expressions.Window
    top.withColumn("rank", row_number()
        .over(Window.orderBy(col("tf").desc, col("token").asc)).cast("long"))
  }

  /** Per-document keyword extraction: the top-`topK` tokens of each
    * document by tf-idf. The idf is the RATIONAL form nDocs/df (not
    * log-scaled): rank order per document is identical (log is monotone)
    * and the score stays a product/quotient of exactly-representable
    * integers — deterministic double arithmetic the oracle reproduces
    * bit-for-bit, with no libm ulp dependence.
    *
    * Returns (idCol, rank, token, tf_doc, df, score), rank 1-based by
    * (score desc, token asc) within each document.
    *
    * Scale: the (doc, token) aggregation is the big shuffle (corpus token
    * count in, collapsed pairs out, map-side combined); the df table
    * collapses to vocab size before the join back (token-keyed shuffle
    * join — vocab can reach billions of rows at 100 TB, so no broadcast
    * assumption); the top-K window is keyed by document — bounded
    * partitions, no skew beyond document length. The idf numerator nDocs
    * is part of the SAME job (a broadcast 1-row count aggregate, column-
    * pruned to an empty read schema), NOT a separate df.count() action —
    * at 100 TB a blocking pre-pass over the corpus just to count rows
    * would be a whole extra scan. Callers that already know the count
    * exactly (e.g. a snapshot's `lines` metadata, core/Snapshot.scala)
    * pass it via `nDocs` and skip even that.
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
                    topK: Int = 3, nDocs: Option[Long] = None): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val nDocsCol = nDocs match {
      case Some(n) => lit(n.toDouble)
      case None    => col("__n_docs").cast("double")
    }
    val pairs = df
      .select(col(idCol), explode(T.tokens(T.normalized(col(textCol)))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf_doc"))
    val dfc = pairs.groupBy("token").agg(count(lit(1)).as("df"))
    val joined = pairs.join(dfc, "token")
    val withN = nDocs match {
      case Some(_) => joined
      case None => joined.crossJoin(
        broadcast(df.groupBy().agg(count(lit(1)).as("__n_docs"))))
    }
    val scored = withN
      .withColumn("score",
        col("tf_doc").cast("double") * nDocsCol / col("df").cast("double"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("token"), col("tf_doc"),
        col("df"), col("score"))
  }

  /** Concat-and-cut sequence packing — the GPT-pretraining layout: order
    * the corpus deterministically (same md5(seed||id) total order as
    * [[shuffled]]), lay documents end-to-end on one global token tape, and
    * cut the tape every `capacity` tokens. Each doc gets its pack id,
    * offset within the pack, and how many packs it straddles.
    *
    * Scale: the naive form is a global-window cumsum — a single-partition
    * anti-pattern. This is the two-phase prefix sum instead: ONE
    * range-sort shuffle, then per-partition token totals (P longs to the
    * driver — P is the partition count, not the row count), then a second
    * per-partition pass that adds each partition's base offset. Identical
    * cost class to [[shuffled]]; results are independent of the partition
    * count because the order key is a total order.
    */
  def packSequences(df: DataFrame, idCol: String, lenCol: String,
                    seed: String, capacity: Int): DataFrame = Cached.frame { c =>
    require(capacity > 0, s"capacity must be positive, got $capacity")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // cached: the two passes below must see the same sorted partitions
    val rdd = c(df
      .select(col(idCol), col(lenCol).cast("long").as("n_tokens"))
      .orderBy(md5(concat(lit(seed), col(idCol).cast("string"))), col(idCol)))
      .rdd
    val totals = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L
      it.foreach { r =>
        // fail fast with a real message — Row.getLong on a null would
        // abort the job with an opaque executor NPE, and the declared
        // nullable=false schema below must actually be enforced
        require(!r.isNullAt(1),
          s"packSequences: null $lenCol for ${r.get(0)} — lengths must be non-null")
        s += r.getLong(1)
      }
      Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val bases = totals.scanLeft(0L)(_ + _)
    val withOff = rdd.mapPartitionsWithIndex { (i, it) =>
      var off = bases(i)
      it.map { r =>
        val o = off; off += r.getLong(1)
        Row(r.get(0), r.getLong(1), o)
      }
    }
    val schema = StructType(Seq(
      df.schema(idCol),
      StructField("n_tokens", LongType, nullable = false),
      StructField("global_off", LongType, nullable = false)))
    val cap = lit(capacity.toLong)
    val packId = floor(col("global_off") / cap).cast("long")
    val lastPack = floor((col("global_off") + greatest(col("n_tokens"), lit(1L)) - 1) / cap).cast("long")
    df.sparkSession.createDataFrame(withOff, schema)
      .select(col(idCol), col("n_tokens"),
        packId.as("pack_id"),
        (col("global_off") % cap).as("pack_off"),
        (lastPack - packId + 1L).as("packs_spanned"))
  }
}
