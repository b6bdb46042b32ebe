package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Measure}
import scala.collection.immutable.ListMap

/** Empirical scale check: the 100 TB design claims (banded candidate
  * generation, O(k) per-group reduces, broadcast-sized decontam, no global
  * sorts) are otherwise verified only by plan shape at sf0.1 (~600k
  * lineitem rows). This main synthesizes a ~10x dataset from sf0.1 and
  * measures the most expensive queries at both scales, publishing the
  * per-query sf0.1→10x log-log scaling slope to SCALE_CHECK.json. A slope
  * near 1.0 is linear; super-linear slopes expose the constant-factor
  * killers plan-shape audits miss (posting-list memory cliffs, candidate
  * pair blowups, AQE flipping a broadcast join to SMJ past a size
  * threshold).
  *
  * Synthesis (deterministic, replica 0 = the original rows byte-for-byte):
  *  - fact tables replicate `reps` times with all join keys offset by
  *    `replica * 1e9`, so each replica preserves the original's join
  *    structure and the merged dataset scales it exactly linearly;
  *  - dimension tables (nation, region) stay fixed — that is what "10x
  *    more data" means in a star schema;
  *  - documents get replica-disjoint token spaces (every non-space run is
  *    suffixed `_r<i>`): per-replica shingle/token statistics are
  *    IDENTICAL to sf0.1 and no cross-replica near-duplicates exist, so
  *    the true dedup workload (pairs, posting lists, signatures) scales
  *    exactly linearly by construction — any super-linear runtime is the
  *    engine's fault, not the data's.
  *
  * Timing protocol: same session config at both scales (local[32],
  * shuffle.partitions=32 — the Bench settings), untimed warmup pass per
  * scale (JIT + codegen + fixture builds), then min-of-3 timed passes at
  * sf0.1 and min-of-2 at 10x (each 10x pass is ~10x the wall time; min
  * over warm passes still suppresses GC/contention noise, which only ever
  * inflates samples).
  */
object ScaleCheck {

  /** The most expensive queries per BENCH_FULL.json, spanning every
    * heavy code path: posting-list dedup, simhash banding, minhash LSH,
    * the 6-stage corpus pipeline, salted/broadcast joins, the column-zip
    * export, the global sort, tf-idf, the hostile-parse pass (the widest
    * codegen surface — the hugeMethodLimit regime must hold at 10x), and
    * corpus-wide line dedup (its fixture's shared footer lines become
    * genuinely hot ownership keys at 10x — the skew path).
    */
  private val Targets = Seq(
    "dd_ngram_jaccard", "dd_simhash", "dd_simhash_wide", "pl_corpus_e2e",
    "dd_minhash_lsh",
    "pl_dedup_corpus", "q_salted_join", "q5_local_supplier",
    "op_csvexport_zip", "op_sort_order", "tx_keywords", "op_type_fuzz",
    "dd_line_dedup", "pl_kmeans", "pl_nb_lang", "pl_lm_backoff", "rt_bm25",
    "rt_hybrid_rrf", "gr_pagerank", "gr_pagerank_w", "gr_walks",
    "gr_triangles", "ann_pq_persisted", "op_dataset_type2", "dd_spans",
    "op_checksum_invariant", "mm_codec_roundtrip", "mm_video_frames",
    "gr_node2vec",
    // r15 additions: the widened media envelopes (all scan-side codegen'd
    // decode over doc_id-derived blobs — same expected shape as
    // mm_codec_roundtrip, slope ~1.0 / ~zero shuffle; a super-linear
    // slope would expose an allocation cliff in the new palette/Adam7,
    // implied-table, or depth-generic PCM paths) and the unigram
    // tokenizer (ONE word-count shuffle whose 10x vocabulary — the
    // replicas' disjoint token spaces — exercises the maxWords cap,
    // then driver EM over the capped table + a scan-side encode).
    "mm_png_envelope", "mm_video_nodht", "mm_audio_depth", "mm_audio_g711",
    "mm_gif_anim", "mm_png16", "pl_unigram_roundtrip",
    "pl_wordpiece_roundtrip",
    // r16 additions: the compositing decode and float/extensible audio
    // lanes (scan-side codegen'd decode like the other media rows —
    // expected slope ~1.0 at zero shuffle) and the byte-fallback
    // roundtrip (three word-count shuffles + three scan-side encodes;
    // the hostile suffixes are per-doc constants, so the workload
    // replicates linearly like the other tokenizer rows).
    "mm_gif_compose", "mm_audio_float", "pl_byte_fallback",
    // r17 (VERDICT r16 item 2): the expensive queries with no scale row
    // at any decade. gr_ppr seeds grow with the part table (every 53rd
    // part), so the teleport set scales WITH the graph — the realistic
    // trust-set shape; gr_pagerank_resume's warm snapshot is built in
    // warmup (the memoized Fixtures job), so the timed row isolates what
    // a resume pays: 2 iterations from a loaded rank snapshot;
    // gr_report is one per-node degree pass + a global agg + the
    // reciprocity self-join; rt_eval_hybrid adds the O(|q|·k) metric fold
    // on top of rt_hybrid_rrf's corpus passes (both its legs already have
    // x10+x100 rows); pl_dsir is a broadcast 2048-bucket model + one
    // per-doc scan + TakeOrdered top-k; ann_pq_recall runs BOTH retrieval
    // legs — PQ train/encode/ADC search and the exact quantized-L2
    // brute force over a 5-query broadcast — so its slope bounds the
    // whole recall-evaluation harness.
    "gr_ppr", "gr_pagerank_resume", "gr_report", "rt_eval_hybrid",
    "pl_dsir", "ann_pq_recall",
    // r18 (VERDICT r17 item 2): the five r17 codec gates were the only
    // gated queries without a scale row at any decade — all scan-side
    // codegen'd decode over doc_id-derived blobs (expected ~linear /
    // ~zero shuffle, the mm_codec_roundtrip shape: ADPCM recurrences,
    // 12-bit and lossless JPEG, sub-byte PNG) — plus the new r18
    // arithmetic-JPEG gate (QM-coder decode, same shape).
    "mm_audio_adpcm", "mm_audio_msadpcm", "mm_jpeg12", "mm_jpeg_lossless",
    "mm_png_subbyte", "mm_jpeg_arith",
    // r19: the two new lossless gates (SOF11 QM decode; restart-interval
    // decode on both entropy paths) — same scan-side shape as the other
    // codec rows, expected ~linear / ~zero shuffle.
    "mm_jpeg_losslessarith", "mm_jpeg_lossless_rst")
  // gr_node2vec (r14): the second-order walk — one broadcast probe of
  // the cached neighbor index per step (the frontier's nodes and
  // predecessors share the scan), plus the walk-keyed cumulative-weight
  // window; its slope should track gr_walks' (the per-step graph-sized
  // work is the same single broadcast-shaped scan; everything else is
  // frontier-bounded).
  // gr_pagerank_w: the only gated PageRank variant without a row until
  // r14 — gr_pagerank plus one edge-weight fold and the scan-side
  // raise_error weight guard; its slope should track gr_pagerank's.
  // op_dataset_type2 / dd_spans / op_checksum_invariant: the three
  // honest-action-exposed queries (their pre-r12 count() numbers timed a
  // collapsed plan) — all linear scans, so expected slope ~1.0, but
  // measured is the house standard.
  // mm_codec_roundtrip / mm_video_frames (r14): the media decode family's
  // first scale rows. All work is scan-side codegen'd decode (PNG
  // inflate+unfilter, baseline-JPEG Huffman+IDCT, WAV PCM, the AVI
  // container walk with per-frame JPEG decode) over blobs that are pure
  // functions of doc_id; the blob fixture builds run in warmup (memoized
  // Fixtures jobs per dir), so the timed passes isolate decode CPU.
  // Expected: slope ~1.0 and ~zero shuffle at both scales — a measured
  // super-linear slope would expose a decode-path memory cliff
  // (allocation pressure per blob) that plan shape can't show.
  // ann_pq_persisted: the deployment-shape PQ path — the memoized store
  // build runs in warmup (the Fixtures job), so the timed passes measure
  // what a query pays: the ~64x-compressed code-store scan + broadcast
  // distance tables + bounded-heap top-k. The one corpus-sized stage is
  // the codes scan, so the slope must be ~linear-or-better in N.
  // pl_kmeans: fixed k over 10x rows must scale linearly (one assignment
  // scan + one bounded partial-agg shuffle per iteration).
  // pl_nb_lang / pl_lm_backoff: the replicas' disjoint token spaces give a
  // TRUE 10x vocabulary, so the n-gram count tables grow 10x alongside the
  // positions stream — the regime where the count-table joins stop being
  // broadcastable and the Brants-style hash-sharded join design has to
  // hold (doc_id parity survives the 1e9 replica stride, so the
  // train/score split stays balanced).
  // rt_bm25: index+score in one plan. The replicas' disjoint token spaces
  // grow the dictionary 10x with the postings, while the literal query
  // terms exist only in replica 0 — so the slope isolates the index-build
  // corpus pass (the one cost that scales) from scoring, which stays
  // replica-0-sized by construction.
  // rt_hybrid_rrf: both legs' corpus passes (inverted-index build, the
  // quantize+distance scan over 10x embeddings) scale; the query side (3
  // replica-0 docs) and the fusion (O(|q|*k) rows) stay constant.
  // gr_pagerank: the key stride makes each replica a disjoint co-purchase
  // graph — 10x nodes and edges with identical degree structure, so all
  // five (dst, Long) contribution shuffles must scale linearly.
  // gr_walks / gr_triangles: same replica-disjoint graph; walks pay the
  // neighbor-index build + 8 broadcast-frontier steps over 10x edges,
  // triangles the degree-ordered two-hop join — the shape whose failure
  // mode (hub-anchored wedge blowup) the orientation exists to prevent. (The
  // labelprop twin runs the same iteration engine; its gated query builds
  // edges by DELIBERATE brute-force O(N^2) kNN for oracle replay, so a
  // slope row would measure the fixture, not the engine — the production
  // edge build is the ANN index family, measured by its own rows.)

  /** The semantic-dedup family scales k WITH N (k = 8·mult below):
    * SemDeDup's within-cluster pairwise compare is O(sum c_i^2) BY
    * DESIGN, and production holds per-cluster size constant by sizing
    * k ~ N/1e4..1e5 (Abbas et al. 2023 — the same rule the operator's
    * maxClusterSize gate enforces). Under that sizing, replicated data
    * carries the same per-cluster workload per row, so the measured
    * slope is ENGINE cost, not the data's quadratic pair growth — a
    * fixed-k replication would measure the latter. dd_inc_semantic here
    * is the in-memory twin of the gated query (fit on history, frozen
    * assignment, two drop joins) without the snapshot-index round-trip,
    * so the slope isolates the join/assignment engine work.
    */
  private val ScaledTargets: ListMap[String, (SparkSession, String, Int) => DataFrame] = {
    import graft.core.Tables
    import graft.ops.{KMeans, SemDeDup}
    ListMap(
      "dd_semantic" -> ((s: SparkSession, dir: String, mult: Int) =>
        SemDeDup.semantic(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8 * mult, iters = 3, tauSq = 6500L)),
      "dd_inc_semantic" -> ((s: SparkSession, dir: String, mult: Int) => {
        val emb = Tables.embeddings(s, dir)
        val hist = emb.filter(col("vec_id") % 5 =!= 0)
        val mus = KMeans.fit(hist, "vec_id", "embedding", k = 8 * mult, iters = 3)
        SemDeDup.incremental(emb.filter(col("vec_id") % 5 === 0),
          KMeans.assignTo(hist, "vec_id", "embedding", mus)
            .select(col("vec_id"), col("cluster"), col("q")),
          mus, "vec_id", "embedding", tauSq = 5000L)
      }),
      "pl_curation_e2e" -> ((s: SparkSession, dir: String, mult: Int) =>
        SemDeDup.curate(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8 * mult, iters = 3, tauSq = 6500L,
          keepNum = 3, keepDen = 4, n = 5)),
      // label propagation over cluster-bucketed kNN edges: same k-with-N
      // sizing as dd_semantic, so the slope measures the kNN pair join +
      // the per-iteration (dst, label) aggregations, not the designed
      // O(Σc²) growth a fixed cluster count would add.
      "gr_cluster_labelprop" -> ((s: SparkSession, dir: String, mult: Int) =>
        graft.queries.GraphPack.clusterLabelProp(s, dir,
          kClusters = 8 * mult)),
      // IVF-PQ under the family's own sizing discipline: nlist scales
      // with N (constant inverted-list size — the same k-with-N rule as
      // dd_semantic), nprobe scales with nlist so the probed FRACTION of
      // the code store stays ~nprobe/nlist = 25%. Per-query scanned rows
      // then grow linearly with N by design; the probe_fraction note
      // (measured, not assumed) is published alongside the slope.
      "ann_ivfpq" -> ((s: SparkSession, dir: String, mult: Int) => {
        val emb = graft.core.Tables.embeddings(s, dir)
        graft.ops.Pq.searchIvfPq(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2,
          nlist = 16 * mult, nprobe = 4 * mult, k = 10)
      }),
      // r17: the kNN-labelprop agreement query. The GATED query's edge
      // build is a DECLARED brute-force O(N²) oracle fixture (its doc:
      // "at production scale the same edges come from the ANN index
      // family"), so a slope row over it would measure the fixture's
      // designed quadratic pair growth, not the engine. The scaled twin
      // keeps the identical sub-graph / seeds / propagate / agreement
      // output and swaps only the edge build for the production
      // cluster-bucketed kNN under the family's k-with-N sizing
      // (4·mult clusters over the vec_id-even half = constant ~250
      // vectors per cluster, the same rule as dd_semantic).
      "gr_knn_labelprop" -> ((s: SparkSession, dir: String, mult: Int) =>
        graft.queries.GraphPack.knnLabelPropScaled(s, dir,
          kClusters = 4 * mult)))
  }

  /** Per-decade twins used ONLY by the X1000 mode (set in runTargeted): the
    * scaled-twin discipline applied per-run — same function at both
    * scales of the slope row, consulted before ScaledTargets.
    */
  private var x1000Twins: Map[String, (SparkSession, String) => DataFrame] =
    Map.empty

  private def runTarget(s: SparkSession, name: String, dir: String,
                        mult: Int): Unit = {
    // three-decade runs operate near the sandbox's disk ceiling; fail
    // loudly BEFORE a pass rather than let a mid-shuffle ENOSPC corrupt
    // the session (the shuffle dirs live on the same filesystem)
    if (mult >= 1000) {
      val freeGb = new java.io.File(sys.props("user.dir"))
        .getUsableSpace / 1e9
      System.err.println(f"[scale] disk free: $freeGb%.1f GB")
      require(freeGb > 6.0,
        f"aborting x$mult pass: only $freeGb%.1f GB free on disk")
    }
    // Bench's per-query purge, for the same reason: operators that
    // persist() intermediates (KMeans, SemDeDup, PageRank) register in
    // the cache manager keyed on the LOGICAL PLAN, so a later invocation
    // of the identical query silently reuses the warmup pass's cache and
    // the measured "slope" is the warm-iteration cost with the dominant
    // build stage cached away. Purging first makes every timed pass pay
    // the full cold plan — the cost a fresh consumer actually sees.
    Materialize.purge(s)
    // At the big scales, also DRAIN the memory freed above before the
    // next cold pass: ContextCleaner reclaims broadcast/unpersisted
    // blocks asynchronously (periodicGC defaults to 30 min), so a long
    // x100 session otherwise accumulates dead pages until a mid-query
    // UNABLE_TO_ACQUIRE_MEMORY — which killed the first r15 run in
    // x100 pass 2. A synchronous GC between timed queries is outside
    // every timing window and makes each pass start from the same
    // clean-heap state the min-of-N protocol assumes.
    if (mult >= 10) System.gc()
    // noop-sink materialization, not count() — see core/Materialize:
    // count() collapsed several plans (projection pruning, unique-key
    // left-join elimination), so pre-r12 slope rows for those queries
    // measured a fraction of the real work.
    Materialize.full(x1000Twins.get(name).map(_(s, dir))
      .orElse(ScaledTargets.get(name).map(_(s, dir, mult)))
      .getOrElse(SparkEntry.queries(name)(s, dir)))
  }

  private def allTargets: Seq[String] = Targets ++ ScaledTargets.keys

  /** Key offset per replica — far above any base key (max base key is
    * o_orderkey ~ 1.5e5 at sf0.1), so replica key spaces never collide.
    */
  private val Stride = 1000000000L

  private val FactKeys: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val DimTables = Seq("nation", "region")

  private def replicateTable(s: SparkSession, baseDir: String, outDir: String,
                             table: String, reps: Int): Unit = {
    val df0 = s.read.parquet(s"$baseDir/$table.parquet")
    // at three decades the sf0.1 base is 1-2 parquet splits, so the
    // expand-and-write would otherwise run on 1-2 tasks; splitting the
    // (tiny) base BEFORE the broadcast expansion parallelizes both the
    // row generation and the parquet encode without shuffling the
    // expanded relation
    val df = if (reps >= 100) df0.repartition(32) else df0
    val keys = FactKeys(table)
    val repd = df.crossJoin(broadcast(s.range(reps).toDF("__rep")))
    val shifted = repd.select(df.columns.map { c =>
      if (keys.contains(c)) (col(c) + col("__rep") * Stride).as(c) else col(c)
    }.toIndexedSeq :+ col("__rep"): _*)
    val out = table match {
      case "documents" =>
        // replica-disjoint token space; replica 0 keeps the original text.
        // regexp_replace preserves whitespace runs exactly, so token and
        // shingle COUNTS per document are identical across replicas.
        shifted
          .withColumn("text", when(col("__rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1_r"), col("__rep")))))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case _ => shifted
    }
    out.drop("__rep").write.mode("overwrite").parquet(s"$outDir/$table.parquet")
  }

  def synthesize(s: SparkSession, baseDir: String, outDir: String, reps: Int,
                 only: Option[Seq[String]] = None): Unit = {
    val marker = java.nio.file.Paths.get(outDir, "_SCALE_DONE")
    if (java.nio.file.Files.exists(marker) && only.isEmpty) return
    // per-table completion = the parquet commit protocol's own _SUCCESS
    // (written only at job completion), so a later run can ADD tables to
    // an existing scale dir (r20: lineitem joins documents in scale1000)
    // without re-synthesizing the ones already there, and a killed
    // mid-write table is re-written rather than trusted
    def done(t: String): Boolean = java.nio.file.Files.exists(
      java.nio.file.Paths.get(outDir, s"$t.parquet", "_SUCCESS"))
    FactKeys.keys.toSeq.sorted.filter(t => only.forall(_.contains(t)))
      .filterNot(done)
      .foreach(replicateTable(s, baseDir, outDir, _, reps))
    DimTables.filter(t => only.forall(_.contains(t))).filterNot(done)
      .foreach { t =>
        s.read.parquet(s"$baseDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
    if (only.isEmpty)
      java.nio.file.Files.writeString(marker, s"reps=$reps base=$baseDir\n")
  }

  /** Per-query min-of-N wall seconds and pass-1 shuffle-write bytes at one
    * scale (shuffle volume is deterministic per plan+data; one sample
    * suffices). Each query is metered alone, its wall timed without the
    * meter's drain.
    */
  private final case class Timed(sec: Map[String, Double], shuffle: Map[String, Long])

  /** Both scales of a decade's slope rows. */
  private final case class Decade(reps: Int, base: Timed, big: Timed) {
    /** One artifact row per name: the two walls and their log-log slope
      * over the decade, then the same for shuffle bytes — the
      * data-movement scaling law, with the log guarded against
      * zero-shuffle (fully map-side / broadcast) plans. `withRatio` adds
      * the wall ratio column the x10/x100 tables carry.
      */
    def rows(names: Seq[String], withRatio: Boolean): String = names.map { name =>
      val x = s"x$reps"
      val (t1, tk) = (base.sec(name), big.sec(name))
      val slope = math.log(tk / t1) / math.log(reps.toDouble)
      val (s1, sk) = (base.shuffle(name), big.shuffle(name))
      val bSlope =
        if (s1 > 0 && sk > 0) math.log(sk.toDouble / s1) / math.log(reps.toDouble)
        else 0.0
      val ratio = if (withRatio) f""""ratio":${tk / t1}%.2f,""" else ""
      f""""$name":{"sf01_sec":$t1%.3f,"${x}_sec":$tk%.3f,$ratio"slope":$slope%.3f,""" +
        f""""shuffle_sf01_mb":${s1 / 1e6}%.1f,"shuffle_${x}_mb":${sk / 1e6}%.1f,"shuffle_slope":$bSlope%.3f}"""
    }.mkString(",")
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def timedPasses(s: SparkSession, dir: String, mult: Int, passes: Int,
                          targets: Seq[String]): Timed = {
    val samples = (1 to passes).map { p =>
      targets.map { name =>
        var dt = 0.0
        val bytes = Measure.during(s) { dt = seconds(runTarget(s, name, dir, mult)) }
          .shuffleBytes
        System.err.println(f"[scale] $dir pass $p $name: $dt%.2f s")
        name -> (dt, bytes)
      }.toMap
    }
    Timed(targets.map(n => n -> samples.map(_(n)._1).min).toMap,
      samples.head.map { case (n, (_, bytes)) => n -> bytes })
  }

  /** One decade of slope rows: synthesize `tables` (every table when None)
    * at `reps`x into `dir`, check each replicated table holds exactly
    * `reps` times the base rows, warm both scales untimed (tables, JIT,
    * codegen, memoized fixtures), then time min-of-3 at sf0.1 and min-of-2
    * at the decade (each big pass is ~reps x the wall time; min over warm
    * passes still suppresses GC/contention noise, which only ever inflates
    * samples). A `base` already timed in this session — the full mode's
    * x100 and x1000 sets reuse the x10 run's sf0.1 passes — is neither
    * re-warmed nor re-timed.
    */
  private def runDecade(s: SparkSession, baseDir: String, dir: String, reps: Int,
                        names: Seq[String], tables: Option[Seq[String]],
                        base: Option[Timed] = None): Decade = {
    synthesize(s, baseDir, dir, reps, tables)
    tables.getOrElse(FactKeys.keys.toSeq.sorted).filter(FactKeys.contains).foreach { t =>
      val nBase = s.read.parquet(s"$baseDir/$t.parquet").count()
      val nBig = s.read.parquet(s"$dir/$t.parquet").count()
      require(nBig == reps * nBase,
        s"x$reps synthesis wrong for $t: $nBig != $reps*$nBase")
    }
    val scales = (if (base.isEmpty) Seq(baseDir -> 1) else Nil) :+ (dir -> reps)
    for ((d, mult) <- scales; name <- names)
      System.err.println(
        f"[scale] warmup x$mult $d $name: ${seconds(runTarget(s, name, d, mult))}%.2f s")
    Decade(reps, base.getOrElse(timedPasses(s, baseDir, 1, 3, names)),
      timedPasses(s, dir, reps, 2, names))
  }

  /** The 100x extrapolation set: the cheapest-slope operators with 10x
    * headroom to spare in the 128 GiB sandbox (VERDICT r11 item 5). Two
    * decades from sf0.1 turns "slope <= 1 over one decade" into a real
    * extrapolation base and surfaces constants that only bite at volume
    * (driver-side metadata, snapshot counts, broadcast sizes).
    */
  private val X100Targets = Seq("dd_line_dedup", "pl_kmeans",
    "pl_dedup_corpus", "gr_cluster_labelprop",
    // r14: one HEAVY family per domain at two decades (VERDICT r13 item
    // 3) — gr_pagerank carries the largest absolute shuffle volume in
    // the 10x table (1.13 GB/decade) and rt_bm25 the largest
    // posting-list build; both fit the sandbox at x100 by their 10x
    // ratios (extrapolated ~60 s and ~40 s per pass).
    "gr_pagerank", "rt_bm25",
    // r15 (VERDICT r14 item 6): the heaviest retrieval query without a
    // scale row — both legs' corpus passes (inverted index, quantized
    // distance scan) scale, the query/fusion side stays replica-0-sized
    // — and the node2vec walk, whose 10x row predates the r14 two-probe
    // -> one-probe fusion. Extrapolated from their 10x ratios (~0.7 and
    // ~0.3 slope), both fit the sandbox at x100 comfortably.
    "rt_hybrid_rrf", "gr_node2vec",
    // r16 (VERDICT r15 item 6): the parse family's two most expensive
    // queries — the hostile-parse pass is the engine's hottest codegen
    // surface — had only 10x evidence, and the triangle census had none.
    // All three are replica-disjoint-linear by construction
    // (op_type_fuzz's keys collapse through pmod(key, 1e9), the identity
    // at every gated scale; co-purchase edges never cross the 1e9
    // replica stride, so triangles stay within replicas), so the two-
    // decade rows surface only constant-factor cliffs. At ~1.0 slope
    // these are the most expensive x100 rows yet (~6/12 min per
    // op_dataset_type2/op_type_fuzz pass) — the cost IS the coverage.
    "op_type_fuzz", "op_dataset_type2", "gr_triangles",
    // r17 (VERDICT r16 item 1): the PQ retrieval family carries the
    // flagship memory-bound-100 TB claim — two decades for both its
    // deployment shapes. ann_ivfpq runs under the family's own sizing
    // discipline (nlist = 16·100 holding inverted-list size constant,
    // nprobe = 4·100 holding the probed fraction ~25%; the in-plan
    // coarse training at k=1600 is the designed cost — the driver gate
    // covers training, ann_pq_persisted isolates the query path);
    // ann_pq_recall bounds the evaluation harness: PQ train + encode +
    // ADC search PLUS the exact quantized-L2 brute force, whose one
    // corpus-sized stage is a broadcast 5-query distance scan — linear
    // in N by construction.
    "ann_ivfpq", "ann_pq_recall",
    // r18 (VERDICT r17 item 6): the two remaining >=3.5 s queries with
    // only one-decade evidence — the weighted PageRank fold and the
    // walk-step index probe get the same two-decade proof their
    // unweighted/biased twins have (x10 slopes 0.225/0.233).
    "gr_pagerank_w", "gr_walks")

  /** Targets of the X100 mode and the one fact table each touches. */
  private val X100Tables = Map(
    "gr_pagerank" -> Seq("lineitem"),
    "gr_pagerank_w" -> Seq("lineitem"),
    "gr_ppr" -> Seq("lineitem"),
    "gr_pagerank_resume" -> Seq("lineitem"),
    "rt_bm25" -> Seq("documents"),
    "dd_line_dedup" -> Seq("documents"),
    "pl_dedup_corpus" -> Seq("documents"),
    // the two remaining super-linear x10 shuffle residuals (1.297 /
    // 1.467): whether the posting-pair / pigeonhole-candidate growth
    // saturates or compounds is exactly what a second decade answers
    "dd_ngram_jaccard" -> Seq("documents"),
    "dd_simhash" -> Seq("documents"),
    // the bits=60 dial's proof-of-scale twin: same corpus, 24-bit band
    // keys — the x100 row should show the random-collision shuffle
    // term shrinking vs dd_simhash's (birthday arithmetic: 2^8 fewer
    // random candidates at equal replication)
    "dd_simhash_wide" -> Seq("documents"),
    // r21: the one-corpus-pass dsirWeights restructure (persist +
    // driver-finished B-row model) is plan-invisible at sf0.1 walls;
    // the second decade is where the deduped tokenize passes and the
    // halved shuffle must show up as wall
    "pl_dsir" -> Seq("documents"))

  /** Targets of the X1000 mode and the one fact table each touches. */
  private val X1000Tables = Map(
    "pl_dedup_corpus" -> Seq("documents"),
    "dd_line_dedup" -> Seq("documents"),
    "rt_bm25" -> Seq("documents"),
    "gr_pagerank" -> Seq("lineitem"),
    // the bits=60 sketch at the third decade: at 5M docs the 40-bit
    // birthday term is ~N²·10/2^16 ≈ 3.8B candidate pairs — the
    // 24-bit keys keep it ~15M, which is the whole point of the dial
    "dd_simhash_wide" -> Seq("documents"),
    // r21 (VERDICT r20 item 7): the tokenizer/model-filter family's
    // first third-decade row. The replicas' disjoint token spaces grow
    // the NB count table 1000× with the corpus — the regime where the
    // positions×counts hash join must hold without broadcast
    "pl_nb_lang" -> Seq("documents"))

  /** The targeted modes, SPARK_GRAFT_SCALE_X100=<names> and
    * SPARK_GRAFT_SCALE_X1000=<names>: ONLY the sf0.1 baseline (min-of-3)
    * and the decade's measurement (min-of-2) for the named queries, each
    * synthesizing just the fact table it touches (the disk footprint stays
    * bounded by that table alone), written to SCALE_CHECK_X100.json or
    * SCALE_CHECK_X1000.json (tools/merge_x100.py / merge_x1000.py fold rows
    * into the full artifact). So a plan change can refresh its family's
    * rows without — or clobbering — the multi-hour full SCALE_CHECK run;
    * first x100 use: the r20 src-bucketed rank-family stores, whose x10
    * repro showed 3-6x less shuffle than the pre-bucketing x100 table
    * rows.
    *
    * X100 runs the DEFAULT (lz4) shuffle codec, so absolute shuffle MB
    * stay comparable with the full x10/x100 tables. X1000 runs zstd (set
    * in main) and one twin: gr_pagerank runs
    * [[graft.queries.GraphPack.pagerankX1000Q]] at BOTH scales — fpShift
    * 18 (the >4M-node overflow dial) + checkpointEvery 1 (lineage
    * truncation; without it the 5-iteration DAG's live shuffle footprint
    * at x1000 exceeds this sandbox's disk) — see that method's Scaladoc
    * for why both are engine features, not measurement shortcuts.
    */
  private def runTargeted(spark: SparkSession, baseDir: String, reps: Int,
                          spec: String): Unit = {
    val tablesFor = if (reps == 1000) X1000Tables else X100Tables
    val names = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(tablesFor.contains)
    require(names.nonEmpty && unknown.isEmpty,
      s"SPARK_GRAFT_SCALE_X$reps: unknown/empty targets $unknown — " +
        s"known: ${tablesFor.keys.toSeq.sorted.mkString(", ")}")
    if (reps == 1000)
      x1000Twins = Map(
        "gr_pagerank" -> ((s: SparkSession, dir: String) =>
          graft.queries.GraphPack.pagerankX1000Q(s, dir)))
    val d = runDecade(spark, baseDir, s"${sys.props("user.dir")}/target/scale$reps",
      reps, names, Some(names.flatMap(tablesFor).distinct))
    val (protocol, notes) =
      if (reps == 1000)
        ("per-query table synthesis; same purge + noop-sink + min-of-3 sf0.1 / min-of-2 x1000 protocol as SCALE_CHECK x1000 rows; slope is log(t_x1000/t_sf01)/log(1000); SHUFFLE CODEC IS ZSTD for this whole session (one lz4 copy of the x1000 edge relation plus its parquet output exceeds the sandbox disk) - both scales of each row share the codec so shuffle_slope stays internally paired, but absolute shuffle MB are NOT comparable to the lz4 x10/x100 tables",
         if (names.contains("gr_pagerank"))
           ""","notes":{"gr_pagerank":"scaled twin pagerankX1000Q at BOTH decades: the DEPLOYMENT shape - 5 iterations over a src-BUCKETED normalized-edge snapshot (memoized build, untimed warmup, like gr_ppr/gr_pagerank_w one decade down) with fpShift=18/maxNodes=2^25 (the documented >4M-node overflow dial; x1000 has ~20M part nodes), checkpointEvery=1 (per-iteration lineage truncation - without it the unrolled DAG retains every iteration's shuffle files until the final action; the raw-tables cached variant measured >60 GB live before one x1000 warmup pass finished, beyond this sandbox's disk), and cacheEdges=false (each iteration re-scans the bucketed snapshot whose read recovers HashPartitioning(src), so the per-iteration join is exchange-free on the edge side with zero executor storage pinned to the 2.4B-edge graph - the only shape an edge set larger than cluster memory can take). Bit-exactness of checkpoint + uncached paths: PageRankSpec laws"}"""
         else "")
      else
        ("per-query table synthesis; same purge + noop-sink + min-of-3 sf0.1 / min-of-2 x100 protocol as SCALE_CHECK x100 rows; slope is log(t_x100/t_sf01)/log(100); default lz4 shuffle codec, shuffle MB comparable with the full x10/x100 tables", "")
    val json =
      s"""{"x${reps}_only":true,"reps":$reps,"base":"$baseDir","protocol":"$protocol"$notes,"queries":{${d.rows(names, withRatio = reps == 100)}}}"""
    publish(s"SCALE_CHECK_X$reps.json", json)
  }

  /** Prints an artifact and writes it to `name` in the working directory. */
  private def publish(name: String, json: String): Unit = {
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.props("user.dir"), name), json + "\n")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse(
      s"${sys.props("user.dir")}/target/scale10")
    val reps = 10
    // ---- targeted modes: one decade's rows only, separate artifact ----
    val targeted = sys.env.get("SPARK_GRAFT_SCALE_X1000").map(1000 -> _)
      .orElse(sys.env.get("SPARK_GRAFT_SCALE_X100").map(100 -> _))
    // X1000 mode runs zstd shuffle compression: one lz4 copy of the
    // x1000 edge relation in flight (~29 GB) plus its parquet output no
    // longer fits this sandbox's disk beside the source table — measured
    // ENOSPC in the first r20 attempt. Both scales of every X1000 row
    // are timed in THIS session under the same codec, so slopes stay
    // internally paired; absolute shuffle MB are not comparable to the
    // lz4 x10/x100 tables (the artifact's protocol note records this).
    val builder = graft.core.SessionTuning.local(32)
    val spark = (if (targeted.exists(_._1 == 1000))
      builder.config("spark.io.compression.codec", "zstd") else builder)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    targeted.foreach { case (decade, spec) =>
      runTargeted(spark, baseDir, decade, spec)
      spark.stop()
      return
    }

    // SPARK_GRAFT_SCALE_ONLY=<comma-separated name prefixes>: the
    // single-query reproduction switch (Bench's SPARK_GRAFT_BENCH_ONLY,
    // applied to scale rows) — time only matching targets and write to
    // SCALE_CHECK_REPRO.json instead of SCALE_CHECK.json, so a repro run
    // never clobbers the full artifact. Diagnostics and notes are skipped
    // under the filter.
    val only = Bench.onlyMatching("SPARK_GRAFT_SCALE_ONLY", "scale", allTargets)
    val runTargets = only.getOrElse(allTargets)
    val x10 = runDecade(spark, baseDir, outDir, reps, runTargets, tables = None)

    // repro mode: filtered rows only, no diagnostics, separate artifact —
    // never clobbers the full SCALE_CHECK.json
    if (only.isDefined) {
      val json =
        s"""{"repro":true,"reps":$reps,"base":"$baseDir","queries":{${x10.rows(runTargets, withRatio = false)}}}"""
      publish("SCALE_CHECK_REPRO.json", json)
      spark.stop()
      return
    }

    // ---- untimed diagnostics for the adjudication notes ----
    // IVF-PQ probe fraction: what share of the code store a query's
    // nprobe lists actually contain, measured at both scales.
    def probeFraction(dir: String, mult: Int): (Double, Long, Long) = {
      Materialize.purge(spark)
      val emb = graft.core.Tables.embeddings(spark, dir)
      val rows = graft.ops.Pq.probeStats(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", iters = 2, nlist = 16 * mult,
          nprobe = 4 * mult).collect()
      val scanned = rows.map(_.getAs[Long]("scanned")).sum
      val total = rows.headOption.map(_.getAs[Long]("total")).getOrElse(0L)
      (if (total > 0 && rows.nonEmpty)
         scanned.toDouble / (total.toDouble * rows.length) else 0.0,
       scanned / math.max(rows.length, 1), total)
    }
    val (pfS, pfScanS, pfTotS) = probeFraction(baseDir, 1)
    val (pfB, pfScanB, pfTotB) = probeFraction(outDir, reps)
    // Triangle census adjudication: wedges (data) vs oriented two-hop
    // candidates (engine) at both scales.
    def triDiag(dir: String): (Long, Long, Long, Long) = {
      Materialize.purge(spark)
      val r = graft.queries.GraphPack.trianglesDiag(spark, dir).collect().head
      (r.getAs[Long]("n_wedges"), r.getAs[Long]("n_candidates"),
       r.getAs[Long]("n_oriented_edges"), r.getAs[Long]("max_oriented_outdeg"))
    }
    val (wS, cS, eS, mS) = triDiag(baseDir)
    val (wB, cB, eB, mB) = triDiag(outDir)

    // ---- 100x extrapolation set ----
    val x100 = runDecade(spark, baseDir, s"${sys.props("user.dir")}/target/scale100",
      100, X100Targets, tables = None, base = Some(x10.base))

    // ---- x1000 probes: THREE decades for documents-only flagships.
    // pl_dedup_corpus (r18, VERDICT r17 item 7): its drop list
    // broadcasts; the corpus never shuffles. dd_line_dedup (r19, VERDICT
    // r18 items 3+5): the one operator with a documented super-linear
    // x100 shuffle residual (1.139 — hot-line occurrence growth) and the
    // first shuffle-BEARING three-decade row — whether the hot-key
    // occurrence stream saturates or compounds is exactly what another
    // decade answers. Both touch only the documents table, so the
    // synthesis replicates documents alone — ~600 MB of parquet at
    // x1000, 5M documents with replica-disjoint token spaces. Same
    // purge + min-of-2 protocol as x100.
    val x1000Targets = Seq("pl_dedup_corpus", "dd_line_dedup")
    val x1000 = runDecade(spark, baseDir, s"${sys.props("user.dir")}/target/scale1000",
      1000, x1000Targets, tables = Some(Seq("documents")), base = Some(x10.base))

    // dd_simhash's pair count sits on a threshold cliff (most pairs land at
    // hamming == maxHamming), so publish the full hamming distribution at
    // both scales — future runs can then separate a data-volume shift
    // (histogram scales uniformly) from an engine regression mechanically.
    def hammingHist(dir: String): String =
      SparkEntry.queries("dd_simhash")(spark, dir)
        .groupBy(col("hamming")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
        .map { case (h, n) => s""""$h":$n""" }.mkString("{", ",", "}")
    val hist = s""""simhash_hamming_hist":{"sf01":${hammingHist(baseDir)},"x10":${hammingHist(outDir)}}"""

    val totalS = allTargets.map(x10.base.sec).sum
    val totalB = allTargets.map(x10.big.sec).sum
    val triNote =
      f""""gr_triangles":"adjudication (r11 weak #1), MEASURED: wedges (sum d(d-1)/2 over the even-part co-purchase graph) grow ${wS}%d -> ${wB}%d at 10x (${wB.toDouble / wS}%.1fx) and the oriented two-hop candidates the census join actually materializes grow ${cS}%d -> ${cB}%d (${cB.toDouble / cS}%.1fx) - BOTH LINEAR (the replica-disjoint synthesis adds no densification; r11 hypothesized densification and the measurement refutes it); oriented edges ${eS}%d -> ${eB}%d, max oriented out-degree ${mS}%d -> ${mB}%d, far below sqrt(m), so the degree-ordered orientation admits exactly linear candidate volume. The superlinear shuffle-BYTES slope is therefore a PLAN TRANSITION, not candidate growth: at sf0.1 the oriented edge table is broadcast-sized and both census joins run as broadcast probes (~zero shuffle), at 10x it outgrows the broadcast threshold and the (linear) candidate stream pays SMJ shuffle bytes it paid nothing for at the base scale - the same broadcast->SMJ log-slope amplification documented in the dd_semantic caveat; wall slope stays sub-linear. DECADE-OVER-DECADE (r17): candidate exchange bytes measured linear once both scales sit past the transition (r17: 828.9 -> 8373.7 MB for 10x data), so the sf0.1-anchored slope overstates 1000x behavior. SINCE r19 these rows measure the PACKED single-long probe key on every decade: gr_report/gr_triangles run over memoized dense-id-compacted edge snapshots (Graphs.denseIdMap + remapDense), so the 1e9 replica stride no longer pushes ids past the 31-bit packing gate - the r17/r18 rows measured the unpacked worst case, r19 rows the production packed shape (id-bijection-invariant counts, parity law in GraphsSpec)""""
    val reportNote =
      """"gr_report":"packed-key adjudication (r19 same-entropy A/B at x10 by tools/DiagReportShuffle.scala, a one-off probe since deleted - see git history): the single-long packing HALVES the pre-compression exchange payload but COMPRESSED shuffle bytes are data-dependent - on the bipartite fulfillment graph's key-only reciprocity exchange, two dense-id columns LZ4-compress to 140.8 MB vs 191.9 MB packed (+36 pct: two sparse longs carry ~10 zero bytes/row the codec collapses; the packed long interleaves both varying fields into 8 high-entropy bytes), wall neutral; on the triangle census's wedge probe the packed key measures 773.3 MB vs 882.6 MB two-column (-12 pct) with wall slightly better. The packed gate stays: it halves UNCOMPRESSED exchange-buffer memory and serialization CPU (what a 1000-executor shuffle actually pressures) at neutral-or-better wall, and the r19 x10 wall drop (14.1 -> 9.1 s) comes from the memoized dense snapshot removing edge extraction from the timed path""""
    val knnNote =
      """"gr_knn_labelprop":"the GATED query builds its 5-NN edges by DELIBERATE brute-force O(N^2) quantized-L2 (its doc declares the swap: at production scale the same edges come from the ANN index family) so the oracle can replay every pair; a slope row over it would measure the fixture's designed quadratic pair growth. The scaled twin (GraphPack.knnLabelPropScaled) keeps the identical sub-graph, seed set, propagate iterations and agreement output and swaps only the edge build for the production cluster-bucketed kNN under the k-with-N sizing rule (4*mult clusters over the vec_id-even half, constant ~250 vectors per cluster) - the same scaled-twin discipline as dd_semantic and ann_ivfpq""""
    val pqNote =
      f""""ann_ivfpq":"sizing discipline: nlist scales with N (16 -> ${16 * reps}%d at 10x) holding inverted-list size constant, nprobe with nlist (4 -> ${4 * reps}%d) holding the probed fraction ~25 pct; MEASURED probe fraction of the code store per query: ${100 * pfS}%.1f pct at sf0.1 (avg ${pfScanS}%d of ${pfTotS}%d codes), ${100 * pfB}%.1f pct at 10x (avg ${pfScanB}%d of ${pfTotB}%d codes). The timed query retrains coarse+codebooks in-plan by design (the driver gate covers training); ann_pq_persisted is the deployment shape whose store build is memoized in warmup, so its row isolates the code-store scan + broadcast-ADC + bounded-heap search path""""
    val json =
      s"""{"reps":$reps,"base":"$baseDir","protocol":"min-of-3 at sf0.1, min-of-2 at 10x, untimed warmup per scale, local[32] shuffle=32 at both scales; shuffle bytes sampled on pass 1; cache manager purged before every timed query (r11) so persist()-ing operators pay their build stage cold; timed action is a NOOP-SINK FULL MATERIALIZATION since r12, not count() - count() let Catalyst prune projections and eliminate unique-key left joins, so pre-r12 rows for plans with those shapes (gr_pagerank, labelprop, scoring left-joins, pure-projection tx rows) measured a collapsed plan; r12 numbers are the honest re-baseline and are NOT comparable to earlier files","notes":{"dd_simhash":"output-pair count is threshold-cliff sensitive (75% of pairs sit at hamming exactly 3), so each replica's independent token-hash draw moves borderline mass across the cutoff: measured per-replica pairs 11.6k-123k around replica 0's 15.2k. The elevated slope is TRUE near-dup volume in the synthesized data, not engine cost growth; the quadratic random-collision candidate term was separately measured and fixed (blocks=5 generalized Manku banding: 23.3M -> 7.7M candidates at 10x)","dd_semantic":"k scales with N (k=8 at sf0.1, k=80 at 10x) per the SemDeDup sizing rule k ~ N/1e4..1e5 (Abbas et al. 2023) - the same rule the operator's maxClusterSize gate enforces - holding per-cluster size constant so the slope measures engine cost, not the data's designed O(sum c^2) pair growth under a fixed k. dd_inc_semantic is the in-memory twin of the gated query (fit on history, frozen-centroid batch assignment, history+batch drop joins) without the snapshot-index round-trip. Shuffle-slope caveat for this family: absolute shuffle volumes are sub-MB at BOTH scales (the sf0.1 run broadcast-joins everything), so the log-slope numerically amplifies an AQE broadcast->SMJ plan transition; read the absolute MB columns, not the slope, when sf01 volume is ~0","op_type_fuzz":"width-stable since r15: the query derives its digit strings from pmod(l_orderkey, 1e9) - the identity at every gated scale (oracle untouched) - so the replica*1e9 key offset no longer widens the per-CHARACTER parse columns from 6 to 10 digits; the r14 adjudication traced the table's only >1 slope (1.02) to exactly that synthesis artifact. Expected and measured: ~linear, tracking op_dataset_type2 (same parse engine, width-stable fixture strings, slope ~0.98)",$triNote,$reportNote,$pqNote,$knnNote},"queries":{${x10.rows(allTargets, withRatio = true)}},""" +
      f""""total_sf01_sec":$totalS%.3f,"total_x10_sec":$totalB%.3f,"total_slope":${math.log(totalB / totalS) / math.log(reps.toDouble)}%.3f,""" +
      s""""x100":{"reps":${x100.reps},"protocol":"same session and purge discipline; untimed warmup at x100, then min-of-2; slopes are log(t_x100/t_sf01)/log(100) - two decades from sf0.1; gr_cluster_labelprop runs k=8*100=800 per the k-with-N sizing discipline","queries":{${x100.rows(X100Targets, withRatio = true)}}},""" +
      s""""x1000":{"reps":${x1000.reps},"protocol":"documents-only synthesis (the one table these queries touch), same purge + min-of-2; slope is log(t_x1000/t_sf01)/log(1000) - THREE decades from sf0.1","queries":{${x1000.rows(x1000Targets, withRatio = false)}}}}"""
    publish("SCALE_CHECK.json", json)
    spark.stop()
  }
}
