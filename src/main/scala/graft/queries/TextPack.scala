package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ArtifactFormats, Tables}
import graft.functions.{TextFunctions => T, SimilarityFunctions => S}
import graft.ops.{Bm25, Bpe, Dedup, KMeans, ModelFilter, SemDeDup, SimilaritySearch, TrainingPipeline, Unigram, WordPiece}

/** Training-data pipeline queries over `documents` / `embeddings`:
  * text analysis, dedup families, similarity search — each oracle-checked
  * where the math is SQL-replicable (DuckDB list/lambda functions), else
  * covered by ScalaTest invariants + rows-only driver check.
  */
object TextPack {

  def textStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.select(col("doc_id"),
      T.tokenCount(col("text")).as("n_tokens"),
      T.charCount(col("text")).as("n_chars_computed"),
      col("n_chars").as("n_chars_stored"),
      T.distinctRatio(col("text")).as("distinct_ratio"),
      T.stopwordRatio(col("text")).as("stopword_ratio"),
      T.subwordCount(col("text")).as("n_subwords"))
  }

  def quality(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).select(col("doc_id"),
      T.qualityScore(col("text")).as("quality"))
  }

  /** Integer-exact Shannon entropy per document — code-point entropy of
    * the raw text and token entropy of the normalized token multiset,
    * both as n·H·2^20 in Long arithmetic (expr/EntropyFp), so the quality
    * signal itself hash-gates under the DuckDB log2fp-recurrence replay.
    * All scan-side: the symbol maps never leave the row.
    */
  def entropyQ(s: SparkSession, dir: String): DataFrame = {
    val ce = T.charEntropyFp(col("text"))
    val te = T.tokenEntropyFp(col("text"))
    Tables.documents(s, dir).select(col("doc_id"),
      ce.getField("n").as("n_cp"),
      ce.getField("ent_fp").as("ent_char_fp"),
      te.getField("n").as("n_tok"),
      te.getField("ent_fp").as("ent_tok_fp"))
  }

  def langid(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.select(col("doc_id"), col("lang").as("labeled_lang"),
      T.langId(col("text")).as("detected_lang"),
      T.langScore(col("text"), T.LangMarkers.head._2).as("en_score"))
  }

  /** Repetition signal (Gopher-style): fraction of duplicate trigrams per
    * document — high values flag boilerplate/spam for filtering.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val toks = T.tokens(T.normalized(col("text")))
    val total = when(size(toks) < 3, 1L).otherwise((size(toks) - 2).cast("long"))
    val distinct = size(S.shingleHashes(col("text"), 3)).cast("long")
    d.select(col("doc_id"), total.as("trigram_total"),
      distinct.as("trigram_distinct"),
      (lit(1.0) - distinct.cast("double") / total.cast("double")).as("rep_ratio"))
  }

  def fingerprintQ(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).select(col("doc_id"),
      T.fingerprint(col("text")).as("fp"),
      T.rollingHash(col("text")).as("rolling_fp"))
  }

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("dup_count"))

  /** maxDf = 100: a shingle shared by >100 of 500 docs is a stopword-gram —
    * it generates O(df²) candidate pairs while almost never being the only
    * witness of a true near-dup. The oracle replicates the cap exactly, so
    * the scale-safe plan is also the VERIFIED plan.
    */
  val NgramMaxDf = 100

  def dedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(Tables.documents(s, dir), "doc_id", "text",
      n = 3, threshold = 0.3, maxDf = NgramMaxDf)

  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
      n = 3, k = 16, bands = 8, threshold = 0.3)

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)

  /** The 60-bit sketch twin of dd_simhash (r20): same 5-block pigeonhole,
    * 24-bit band keys — the corpus-size dial for the banded join's
    * random-collision term, which the x10→x100 rows measured compounding
    * at fixed 40 bits (shuffle slope 1.467 → 1.596). Gated through its
    * own DuckDB replay of the md5-60 sketch, so the dial is oracle-exact,
    * not a tuning knob taken on faith.
    */
  def dedupSimhashWide(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 3, bits = 60)

  /** The hamming-distance histogram of the simhash pair set (0..maxHamming).
    * Observability companion to dd_simhash: its pair count sits on a
    * threshold cliff (SCALE_CHECK r10: 75% of pairs at hamming exactly 3),
    * so scale runs need the distribution, not just the total, to separate
    * data-volume shift from engine regression mechanically.
    */
  def dedupSimhashHist(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"))

  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosineLsh(Tables.embeddings(s, dir), "vec_id", "embedding",
      threshold = 0.45, dim = 64, tables = 8, planes = 6)

  /** The minhash near-dup pair set as a memoized JOB: dd_minhash_lsh
    * measures the pair computation itself; the two downstream consumers
    * (cluster assignment, corpus dedup) build on the cached pairs the way
    * a real pipeline chains jobs — so each query's cost is its OWN
    * operator, not a re-run of its upstream.
    */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_minhash_pairs") { st =>
      st.write(dedupMinhash(s, dir).select(col("id_a"), col("id_b")),
        "mh_pairs", slices = 4)
      Map("pairs" -> "mh_pairs")
    }
    store.readResolved("mh_pairs").select("id_a", "id_b")
  }

  /** Cluster the (verified) minhash near-dup pairs and report every
    * clustered doc with its canonical representative + cluster size.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(s, dir)
    val clusters = Dedup.dupClusters(pairs)
    val sizes = clusters.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, "cluster")
      .select(col("id").as("doc_id"), col("cluster"), col("cluster_size"))
  }

  /** The end-to-end dedup composition a pipeline actually runs: near-dup
    * pairs (minhash-LSH, verified) → connected components → drop every
    * cluster member except the min-id representative. Returns the
    * surviving corpus.
    *
    * Scale: the drop list is only clustered non-representatives — tiny
    * next to the corpus — so the final anti-join broadcasts it and the
    * corpus never shuffles.
    */
  def pipelineDedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(s, dir)
    val drop = Dedup.dupClusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"))
    Tables.documents(s, dir)
      .join(broadcast(drop), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  def annBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    SimilaritySearch.bruteForce(emb, queries, "vec_id", "embedding", k = 10)
      .select(col("qid"), col("rank"), col("nid"))
  }

  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    SimilaritySearch.lshTopK(emb, queries, "vec_id", "embedding",
      k = 10, dim = 64, tables = 8, planes = 10)
      .select(col("qid"), col("rank"), col("nid"), col("cosine"))
  }

  /** Int8 quantization stats over the embedding store: per-vector scale,
    * integer code checksums, and squared reconstruction error.
    */
  def annQuantize(s: SparkSession, dir: String): DataFrame =
    SimilaritySearch.quantizeInt8Stats(Tables.embeddings(s, dir), "vec_id", "embedding")
      .withColumnRenamed("id", "vec_id")

  /** Cluster the embedding store with the integer-exact fixed-point Lloyd
    * ([[graft.ops.KMeans]]) — the clustering stage cluster-aware curation
    * (SemDeDup, cluster-balanced sampling) builds on. k=8 over the 10
    * synthetic label groups so clusters genuinely merge/split; 3
    * iterations keeps the oracle's CTE chain honest about the update step
    * (a 0-iteration run would only test the init draw).
    */
  def kmeansQ(s: SparkSession, dir: String): DataFrame =
    KMeans.fixedPoint(Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 8, iters = 3)

  /** SemDeDup over the embedding store: kept=false rows have a
    * higher-priority semantic near-duplicate in their cluster. tauSq=6500
    * sits at the ~5th percentile of within-cluster pair distances at this
    * quantization — a real planted drop-set, not a vacuous threshold.
    */
  def semDedupQ(s: SparkSession, dir: String): DataFrame =
    SemDeDup.semantic(Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 8, iters = 3, tauSq = 6500L)

  /** Cluster-balanced sample: 5 deterministic draws per k-means cluster —
    * the "balance the corpus across semantic clusters" curation step.
    */
  def clusterSampleQ(s: SparkSession, dir: String): DataFrame =
    SemDeDup.clusterSample(Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 8, iters = 3, n = 5)

  /** Incremental SemDeDup: the persisted "semantic index" (centroid
    * matrix + history assignments with quantized vectors) is a memoized
    * fixture; today's batch (vec_id % 5 == 0) assigns to the FROZEN
    * centroids and drops against history + itself. History embeddings are
    * never re-read — only the index snapshots are.
    */
  def incSemanticQ(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "km_index") { st =>
      val hist = Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 0)
      val mus = KMeans.fit(hist, "vec_id", "embedding", k = 8, iters = 3)
      val sess = s
      import sess.implicits._
      st.write(mus.zipWithIndex
          .map { case (mu, c) => (c.toLong, mu.toSeq) }.toSeq
          .toDF("cluster", "mu"),
        "km_cent", slices = 1,
        formatVersion = Some(ArtifactFormats.SemanticIndex))
      st.write(KMeans.assignTo(hist, "vec_id", "embedding", mus),
        "km_hist", slices = 4,
        formatVersion = Some(ArtifactFormats.SemanticIndex))
      Map("cent" -> "km_cent", "hist" -> "km_hist")
    }
    val mus = store.readArtifact("km_cent", ArtifactFormats.SemanticIndex).orderBy(col("cluster")).collect()
      .map(_.getSeq[Long](1).toArray)
    val batch = Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0)
    // tauSq=5000 ~ the 30th pct of batch rows' nearest-history distance
    // at this quantization: a third drop via history, the rest split on
    // batch-internal priority - both rules genuinely exercised
    SemDeDup.incremental(batch, store.readArtifact("km_hist", ArtifactFormats.SemanticIndex), mus,
      "vec_id", "embedding", tauSq = 5000L)
  }

  /** Curation end to end, one chained computation over ONE k-means fit:
    * cluster → semantic dedup (tauSq=6500) → prototype prune (keep the
    * hardest 3/4 of each cluster's survivors) → cluster-balanced sample
    * (5 per cluster) — the composition mirroring the reference's
    * chained-jobs idiom, with every stage's decision replayed in a
    * single appended oracle WITH-chain.
    */
  def curationE2eQ(s: SparkSession, dir: String): DataFrame =
    SemDeDup.curate(Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 8, iters = 3, tauSq = 6500L, keepNum = 3, keepDen = 4, n = 5)

  /** Two-level k-means over the embedding store: 4 parents × 3
    * sub-clusters, both levels integer-exact — the hierarchical
    * assignment semantic dedup sub-splits oversized clusters with.
    */
  def kmeans2Q(s: SparkSession, dir: String): DataFrame =
    KMeans.fixedPointTwoLevel(Tables.embeddings(s, dir), "vec_id", "embedding",
      k1 = 4, iters1 = 2, k2 = 3, iters2 = 2)

  /** SemDeDup over two-level (leaf) clusters: the constructive
    * oversized-cluster fix — every parent sub-split 3 ways before the
    * O(c²) pair join. Same tauSq as dd_semantic so the flat/hierarchical
    * drop sets are directly comparable.
    */
  def semDedup2Q(s: SparkSession, dir: String): DataFrame =
    SemDeDup.semanticHierarchical(Tables.embeddings(s, dir), "vec_id",
      "embedding", k1 = 4, iters1 = 2, k2 = 3, iters2 = 2, tauSq = 6500L)

  /** Cluster report card: per-cluster size, integer inertia, max radius,
    * min-id exemplar — curation observability over the same assignment.
    */
  def clusterReportQ(s: SparkSession, dir: String): DataFrame =
    SemDeDup.clusterReport(Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 8, iters = 3)

  /** Prototype pruning: keep the hardest 3/10 of each cluster (farthest
    * from centroid) — the Sorscher-style "prune the prototypical mass"
    * curation step, exact integer rank + ceil cutoff.
    */
  def prototypePruneQ(s: SparkSession, dir: String): DataFrame =
    SemDeDup.prototypePrune(Tables.embeddings(s, dir), "vec_id", "embedding",
      k = 8, iters = 3, keepNum = 3, keepDen = 10)

  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    SimilaritySearch.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 10, nCentroids = 16, nprobe = 4)
      .select(col("qid"), col("rank"), col("nid"), col("cosine"))
  }

  /** IVF search against a PERSISTED index: the corpus assignment pass runs
    * ONCE inside a memoized job (index + centroids land as snapshots, the
    * index hashed on its inverted-list id), and the query batch replays
    * only probe selection + candidate scan — the build-once/query-many
    * split that makes IVF pay off at corpus scale. Shares [[annIvf]]'s
    * oracle: a persisted index must answer exactly like an inline one.
    */
  def annIvfPersisted(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_ivf_index") { st =>
      val (index, cents) = SimilaritySearch.ivfIndex(
        Tables.embeddings(s, dir), "vec_id", "embedding", nCentroids = 16)
      st.write(index, "ivf_index", hashlabel = Some("cluster"), slices = 4,
        formatVersion = Some(ArtifactFormats.IvfIndex))
      st.write(cents, "ivf_cents", slices = 1,
        formatVersion = Some(ArtifactFormats.IvfIndex))
      Map("index" -> "ivf_index", "cents" -> "ivf_cents")
    }
    val queries = Tables.embeddings(s, dir).filter(col("vec_id") < 5)
    SimilaritySearch.ivfSearchIndexed(
      store.readArtifact("ivf_index", ArtifactFormats.IvfIndex),
      store.readArtifact("ivf_cents", ArtifactFormats.IvfIndex),
      queries, "vec_id", "embedding", k = 10, nprobe = 4)
      .select(col("qid"), col("rank"), col("nid"), col("cosine"))
  }

  /** PQ-ADC ANN: m=8 subspace codebooks over dim-64 embeddings (ksub=16,
    * 2 Lloyd iterations each), codes-only scoring. Approximate by nature,
    * hash-gated anyway — the whole path is integer-exact.
    */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.ops.Pq.search(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2, k = 10)
  }

  /** PQ against a PERSISTED encoded store — the deployment shape: codes
    * (the 64×-compressed corpus) and codebooks land as snapshots via the
    * memoized job; queries never read a float corpus vector. Shares
    * ann_pq's oracle: the store round-trip must be invisible.
    */
  def annPqPersisted(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_pq_store") { st =>
      val emb = Tables.embeddings(s, dir)
      val books = graft.ops.Pq.train(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16, iters = 2)
      val sess = s
      import sess.implicits._
      st.write(books.zipWithIndex.flatMap { case (book, j) =>
          book.zipWithIndex.map { case (mu, c) => (j, c, mu.toSeq) }
        }.toSeq.toDF("subspace", "centroid", "mu"),
        "pq_books", slices = 1,
        formatVersion = Some(ArtifactFormats.PqStore))
      st.write(graft.ops.Pq.encode(emb, "vec_id", "embedding", books),
        "pq_codes", slices = 4,
        formatVersion = Some(ArtifactFormats.PqStore))
      Map("books" -> "pq_books", "codes" -> "pq_codes")
    }
    val books = store.readArtifact("pq_books", ArtifactFormats.PqStore)
      .orderBy(col("subspace"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray
    graft.ops.Pq.searchEncoded(store.readArtifact("pq_codes", ArtifactFormats.PqStore), books,
      Tables.embeddings(s, dir).filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10)
  }

  /** IVF-PQ: coarse 16-list quantizer over the encoded store, 4-probe
    * ADC — a query scans ~nprobe/nlist of the code store. The production
    * retrieval shape; hash-gated like the rest of the PQ family.
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.ops.Pq.searchIvfPq(emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2,
      nlist = 16, nprobe = 4, k = 10)
  }

  /** PQ recall@10 vs the EXACT quantized-L2 brute force — the evaluation
    * harness a deployment tunes m/ksub against. Both rankings live in the
    * same integer domain, so the per-query overlap count is deterministic
    * and hash-gated: approximation QUALITY itself is under the oracle.
    */
  def annPqRecall(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Pq
    val k = 10
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
    val books = Pq.train(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, iters = 2)
    val approx = Pq.searchEncoded(
        Pq.encode(emb, "vec_id", "embedding", books), books, queries,
        "vec_id", "embedding", k)
      .select(col("qid"), col("nid"))
    val qz = Pq.quantized(emb, "vec_id", "embedding")
    val exact = {
      val pairs = qz.crossJoin(
          broadcast(qz.filter(col("nid") < 5)
            .select(col("nid").as("qid"), col("q").as("qq"))))
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          graft.expr.KernelCall.column(col("q"), col("qq"), graft.expr.SqDistLong)
            .as("dist"))
      graft.ops.TopKPerGroup(pairs, Seq("qid"), "dist", k, Seq("nid"),
        ascending = true).select(col("qid"), col("nid"))
    }
    exact.select("qid").distinct()
      .join(approx.join(exact, Seq("qid", "nid"))
          .groupBy("qid").agg(count(lit(1)).as("hits")),
        Seq("qid"), "left")
      .select(col("qid"), coalesce(col("hits"), lit(0L)).as("hits"),
        lit(k.toLong).as("k"))
  }

  /** Gopher quality rules over deterministically decorated text (the
    * synthetic docs are single-line prose, so the fixture injects the
    * structures the rules exist to catch: bullet lists, ellipsis lines,
    * symbol runs). Per-rule columns + the paper-threshold conjunction.
    */
  def gopher(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val decorated = when(col("doc_id") % 4 === 0,
        concat(col("text"),
          lit("\n• bullet one\n• bullet two\n- dash bullet\nreal closing line.")))
      .when(col("doc_id") % 4 === 1,
        concat(col("text"), lit("\ntrailing thought...\nanother one…")))
      .when(col("doc_id") % 4 === 2,
        concat(col("text"), lit(" ## #hashtag #…")))
      .otherwise(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), T.gopherFlags(decorated).as("g"))
      .select(col("doc_id"), col("g.*"))
  }

  /** Two-stage quantized ANN: the int8 code table is built ONCE as a
    * snapshot (8× smaller than the float corpus — the first-stage scan is
    * bandwidth-bound at 100 TB, so the code table is the whole win);
    * stage 1 ranks by quantized cosine (integer dot/norms — exactly
    * replayable), stage 2 re-scores only the top-`rerank` survivors with
    * float cosine. The oracle replays both stages including the
    * quantization.
    */
  def annQuantizedRerank(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_quantized_index") { st =>
      st.write(SimilaritySearch.quantizedIndex(
        Tables.embeddings(s, dir), "vec_id", "embedding"), "q_index",
        slices = 4, formatVersion = Some(ArtifactFormats.PqStore))
      Map("index" -> "q_index")
    }
    val emb = Tables.embeddings(s, dir)
    SimilaritySearch.searchQuantized(
      store.readArtifact("q_index", ArtifactFormats.PqStore), emb, emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 10, rerank = 25)
      .select(col("qid"), col("rank"), col("nid"), col("cosine"))
  }

  /** JSONL round-trip over the documents table: export to sharded JSONL
    * (the LLM-corpus delivery format) inside a memoized job, read the
    * shards back with the explicit schema, and return the rows — the
    * oracle is simply the source table, so every byte of text (newlines,
    * quotes, unicode) must survive the JSON escape/unescape cycle.
    */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val (_, out) = Fixtures(s, dir, "fix_jsonl_export") { _ =>
      val path = Fixtures.filesDir(dir, "fix_jsonl_export") + "/docs_jsonl"
      graft.ops.JsonlExport(src, path, slices = 4, gzip = true)
      Map("path" -> path)
    }
    graft.ops.JsonlExport.read(s, out("path"), src.schema)
  }

  /** Deterministic hash train/val/test split: per-doc assignment depends
    * only on (salt, id) — md5-replicable in the oracle row for row.
    */
  def pipelineSplit(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.splitByHash(
      Tables.documents(s, dir).select(col("doc_id")),
      "doc_id", "s7", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  /** Seeded corpus reshuffle; the physical row position is captured (not
    * window-re-derived) and must equal the oracle's row_number order.
    */
  def pipelineShuffle(s: SparkSession, dir: String): DataFrame =
    graft.core.SnapshotStore.withPosition(
      TrainingPipeline.shuffled(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id", "e1"),
      "pos")

  /** Token-window chunking into overlapping 64-token contexts every 48. */
  def pipelineChunks(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.chunk(Tables.documents(s, dir), "doc_id", "text",
      chunkSize = 64, stride = 48)

  /** Benchmark decontamination: every 50th doc plays the held-out eval
    * set; the rest are scored for trigram containment in its shingle
    * union.
    */
  def pipelineDecontam(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TrainingPipeline.decontaminate(
      d.filter(col("doc_id") % 50 =!= 0),
      d.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 3, threshold = 0.5)
  }

  /** Per-benchmark contamination report: three synthetic eval sets
    * carved from the held-out docs (doc_id % 50 = 0, named by
    * (doc_id div 50) % 3), reported against the training split — the
    * governance summary a run publishes beside its data card.
    */
  def pipelineDecontamReport(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TrainingPipeline.contaminationReport(
      d.filter(col("doc_id") % 50 =!= 0),
      d.filter(col("doc_id") % 50 === 0)
        .withColumn("bench",
          concat(lit("bench_"), (expr("doc_id div 50") % 3).cast("string"))),
      "doc_id", "text", "bench", n = 3, threshold = 0.5)
  }

  /** Same fixture and ORACLE as pl_decontam, through the Bloom-prescreen
    * path — hash-gating both proves the prescreen changes nothing but the
    * cost model (TrainingPipeline.decontaminateBloom).
    */
  def pipelineDecontamBloom(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    TrainingPipeline.decontaminateBloom(
      d.filter(col("doc_id") % 50 =!= 0),
      d.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 3, threshold = 0.5)
  }

  /** Incremental exact dedup against a snapshot CHAIN — the daily-ingest
    * composition: history is a two-snapshot chain (80% of the corpus,
    * split by parity), today's batch is the remaining 20% where every
    * doc_id % 10 == 0 row plagiarizes the text of doc_id+1 (a doc that IS
    * in history). Survivors must be exactly the batch rows with fresh
    * content, matched by fingerprint, not by id arithmetic.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "fix_doc_chain") { st =>
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val hist = d.filter(col("doc_id") % 5 =!= 0)
      st.write(hist.filter(col("doc_id") % 2 === 0), "dc_a", slices = 4)
      st.write(hist.filter(col("doc_id") % 2 =!= 0), "dc_b",
        previous = Some("dc_a"), slices = 4)
      Map("tip" -> "dc_b")
    }
    val history = store.iterateChain("dc_b", columns = Seq("doc_id", "text"))
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // today's batch: ids % 5 == 0; every % 10 == 0 row carries the text of
    // doc_id+1 (already in history) — built by a self-join, so the dup is
    // by CONTENT, not by construction-time fingerprint arithmetic
    val stolen = d.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("stolen_text"))
    // coalesce: if doc_id+1 does not exist (a corpus whose max id is
    // divisible by 10), the doc keeps its own text — without it the row
    // carries a null fingerprint, which Spark's null-safe anti-join keeps
    // but the oracle's NOT IN silently drops (latent verify divergence)
    val batch = d.filter(col("doc_id") % 5 === 0)
      .join(stolen, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, coalesce(col("stolen_text"), col("text")))
          .otherwise(col("text")).as("text"))
    Dedup.incrementalExact(batch, history, "doc_id", "text")
  }

  /** Incremental minhash near-dup: batch (doc_id % 5 == 0) vs a HISTORY
    * INDEX built once as a memoized job — only the batch pays signature
    * computation; history text is never re-read. Pairs are batch×history
    * plus within-batch.
    */
  def dedupIncMinhash(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_minhash_index") { st =>
      val hist = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
      st.write(Dedup.minhashIndex(hist, "doc_id", "text", n = 3, k = 16),
        "mh_index", slices = 4,
        formatVersion = Some(ArtifactFormats.MinhashIndex))
      Map("index" -> "mh_index")
    }
    val historyIdx = store.readArtifact("mh_index", ArtifactFormats.MinhashIndex)
      .select("id", "hs", "sig", "n", "k")
    val batchIdx = Dedup.minhashIndex(
      Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
      "doc_id", "text", n = 3, k = 16)
    Dedup.incrementalMinhash(batchIdx, historyIdx,
      k = 16, bands = 8, threshold = 0.3)
  }

  /** Incremental minhash against a COMPACTED history chain: the history
    * index accumulates in three chained snapshots (the shape a streaming
    * sink leaves behind — one small index snapshot per micro-batch), the
    * chain is folded into ONE snapshot by `SnapshotStore.compactChain`,
    * and the batch dedups against the compacted index. Shares
    * [[dedupIncMinhash]]'s oracle exactly: compaction is maintenance, it
    * must be invisible in results.
    */
  def dedupCompactMinhash(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_minhash_chain_compact") { st =>
      val hist = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
      var prev: Option[String] = None
      (0 until 3).foreach { i =>
        st.write(
          Dedup.minhashIndex(hist.filter(col("doc_id") % 3 === i),
            "doc_id", "text", n = 3, k = 16),
          s"mhc_index.$i", previous = prev, slices = 4,
          formatVersion = Some(ArtifactFormats.MinhashIndex))
        prev = Some(s"mhc_index.$i")
      }
      st.compactChain("mhc_index.2", "mhc_index.c")
      Map("index" -> "mhc_index.c")
    }
    val historyIdx = store.readArtifact("mhc_index.c", ArtifactFormats.MinhashIndex)
      .select("id", "hs", "sig", "n", "k")
    val batchIdx = Dedup.minhashIndex(
      Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
      "doc_id", "text", n = 3, k = 16)
    Dedup.incrementalMinhash(batchIdx, historyIdx,
      k = 16, bands = 8, threshold = 0.3)
  }

  /** PII scrubbing over deterministically decorated text (the synthetic
    * corpus contains no natural PII, so the fixture injects emails/URLs/
    * phones as pure functions of doc_id — construction, not operator
    * work). Audit counts are taken on the raw text; `clean` carries the
    * placeholder-substituted text whose bytes the oracle must reproduce.
    */
  def scrub(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com"),
      lit(" or user"), col("doc_id"), lit("@sub.example.co.uk"),
      lit(" via https://ex.org/d/"), col("doc_id"), lit("?x=1"),
      lit(" tel 555-01"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
      when(col("doc_id") % 2 === 0, lit(" 555-123-4567")).otherwise(lit("")))
    Tables.documents(s, dir)
      .select(col("doc_id"), decorated.as("t"))
      .select(col("doc_id"),
        T.emailCount(col("t")).as("n_emails"),
        T.urlCount(col("t")).as("n_urls"),
        T.phoneCount(col("t")).as("n_phones"),
        T.scrubPii(col("t")).as("clean"))
  }

  /** HTML boilerplate removal over deterministically decorated text (the
    * synthetic corpus is plain text, so the fixture wraps it in markup as
    * a pure function of doc_id — construction, not operator work):
    * script/style elements dropped with their content, tags stripped,
    * entities decoded amp-last, whitespace collapsed.
    */
  def htmlStrip(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat(
      lit("<html><body class=\"d"), col("doc_id"),
      lit("\"><h1>Doc &amp; &lt;"), col("doc_id"), lit("&gt; &#39;q&#39;&nbsp;</h1><p>"),
      col("text"),
      lit("</p><script>var x = 1 &amp;&amp; 2;\nif (x < 3) { x = 4; }</script>"),
      when(col("doc_id") % 3 === 0, lit("<style>.a { color: red }\n.b>i { }</style>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    Tables.documents(s, dir)
      .select(col("doc_id"), decorated.as("t"))
      .select(col("doc_id"), T.stripHtml(col("t")).as("clean"))
  }

  /** Unicode NFC canonicalization over deterministically decorated text
    * (the synthetic corpus is ASCII, so the fixture appends a decomposed /
    * compatibility suffix as a pure function of doc_id): combining-mark
    * sequences compose, the Angstrom sign folds to A-ring, already-composed
    * text passes through unchanged.
    */
  def nfc(s: SparkSession, dir: String): DataFrame = {
    val m = col("doc_id") % 4
    val suffix = when(m === 0, lit(" Cafe\u0301")) // e + combining acute
      .when(m === 1, lit(" A\u030A")) // A + combining ring above
      .when(m === 2, lit(" \u212B")) // Angstrom sign -> U+00C5 A-ring
      .otherwise(lit(" \u00E9")) // composed e-acute, already NFC
    val t = concat(col("text"), suffix)
    Tables.documents(s, dir)
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"),
        T.normalizeUnicode(col("t")).as("norm"),
        (T.normalizeUnicode(col("t")) =!= col("t")).as("changed"))
  }

  /** C4 line filtering over deterministically line-decorated text (the
    * synthetic docs are single-line, so the fixture appends the classic
    * web-page junk: a nav bar, a button label, a too-short sentence — plus
    * one real sentence; the doc body gets a terminal period so it
    * qualifies when long enough).
    */
  def c4Lines(s: SparkSession, dir: String): DataFrame = {
    val decorated = concat(col("text"), lit("."),
      lit("\nhome | about | contact"),
      lit("\nClick here"),
      lit("\nThis sentence has exactly seven words total."),
      lit("\nshort."))
    val lines = Tables.documents(s, dir)
      .select(col("doc_id"), decorated.as("t"))
    val kept = T.c4KeptLines(col("t"), minWords = 5)
    lines.select(col("doc_id"),
      size(split(col("t"), "\r?\n")).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      concat_ws("\n", kept).as("clean"))
  }

  /** One-row corpus report card: the profiling pass a pipeline runs before
    * and after every curation step. All aggregates are exact integers
    * (counts and long sums — no double accumulation, which would be
    * merge-order-dependent), so the report is bit-deterministic.
    */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val nTokens = T.tokenCount(col("text"))
    d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(T.fingerprint(col("text"))).as("n_unique_contents"),
      countDistinct(col("source")).as("n_sources"),
      sum(nTokens).as("total_tokens"),
      min(nTokens).as("min_tokens"),
      max(nTokens).as("max_tokens"),
      sum(when(T.qualityScore(col("text")) >= 0.5, 1L).otherwise(0L)).as("n_quality_ok"),
      sum(when(T.langId(col("text")) === "en", 1L).otherwise(0L)).as("n_detected_en"))
  }

  /** Concat-and-cut packing of whitespace token counts into 2048-token
    * training sequences, in the md5('p1'||id) deterministic order.
    */
  def pipelinePack(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.packSequences(
      Tables.documents(s, dir)
        .select(col("doc_id"), T.tokenCount(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", "p1", capacity = 2048)

  /** Corpus vocabulary: top-100 tokens by term frequency among those in
    * ≥2 documents — the wordcount every tokenizer/stopword pipeline runs.
    */
  def vocab(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.vocabulary(Tables.documents(s, dir), "text",
      minDf = 2, topK = 100)

  /** Per-document top-3 keywords by (rational-idf) tf-idf. */
  def keywords(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.tfidfKeywords(Tables.documents(s, dir), "doc_id", "text",
      topK = 3)

  /** Span-level exact-substring scrub: every token 10-gram also present in
    * an earlier document is removed from the later one (Lee et al. ACL'22
    * semantics at token-window granularity).
    */
  def dedupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(Tables.documents(s, dir), "doc_id", "text", n = 10)

  /** Source-weighted epoch mixture: 2.5 epochs of src0, 1 of src1, 0.25 of
    * the rest — each doc replicated floor(w) (+1 on the fractional-part
    * hash) times with a copy index.
    */
  def pipelineEpochs(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.epochWeighted(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source", "w3",
      weights = Seq("src0" -> 2.5, "src1" -> 1.0), defaultWeight = 0.25)

  /** End-to-end corpus build — the composition a pretraining pipeline
    * actually ships: quality gate → exact dedup (min-id representative) →
    * benchmark decontamination → train split → per-source cap → sequence
    * packing. Every stage is the SAME operator the individual pl_ and dd_
    * queries verify one at a time; this query verifies they COMPOSE
    * (column contracts, filter boundary semantics, cross-stage
    * determinism) under a single oracle.
    *
    * Scale: every text-consuming signal (quality score, content
    * fingerprint, shingle containment, token count) is computed INSIDE a
    * scan-stage projection; everything downstream is id algebra — the
    * dedup groupBy carries (fp, id) longs, the decontamination explode
    * carries (id, hash) longs, the stage intersections are id semi-joins.
    * The text column never crosses an exchange (plan-asserted in
    * TrainingPipelineSpec), which is the difference between shuffling ids
    * and shuffling 100 TB. Quality is evaluated in two scan branches
    * rather than carried through a join — recomputing a codegen'd
    * projection is the cheap side of that trade.
    */
  def corpusE2E(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.packSequences(corpusE2ELens(s, dir),
      "doc_id", "n_tokens", "p2", capacity = 512)

  /** Stages 1-5 (everything before packing, which crosses into an RDD and
    * would hide upstream exchanges from plan assertions). Returns the
    * surviving (doc_id, n_tokens).
    */
  private[graft] def corpusE2ELens(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val bench = d.filter(col("doc_id") % 50 === 0)
    val pool = d.filter(col("doc_id") % 50 =!= 0)
    val qual = pool.filter(T.qualityScore(col("text")) >= 0.5)
    // kept-id sets, each derived scan-side from `qual`, joined as ids only
    val repIds = qual
      .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val cleanIds = TrainingPipeline
      .decontaminate(qual, bench, "doc_id", "text", n = 3, threshold = 0.5)
      .filter(!col("contaminated")).select(col("doc_id"))
    val keptIds = repIds.join(cleanIds, Seq("doc_id"), "left_semi")
    val train = TrainingPipeline.splitByHash(keptIds, "doc_id", "e2",
        Seq("train" -> 0.9, "holdout" -> 0.1))
      .filter(col("split") === "train").select(col("doc_id"))
    // narrow column-pruned re-scans attach source (for the cap) and token
    // count (for packing) to the surviving ids
    val withSource = train
      .join(pool.select(col("doc_id"), col("source")), Seq("doc_id"))
    val capped = TrainingPipeline.capPerGroup(withSource, "doc_id", "source", "c2", k = 80)
    capped.select(col("doc_id"))
      .join(pool.select(col("doc_id"), T.tokenCount(col("text")).as("n_tokens")),
        Seq("doc_id"))
  }

  /** Domain cap: at most 60 docs per source, drawn in md5('c1'||id) order. */
  def pipelineCap(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.capPerGroup(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source", "c1", k = 60)

  /** Deterministic stratified sample: upsample src0/src1, thin the rest. */
  def pipelineSample(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.sampleStratified(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source", "s9",
      rates = Seq("src0" -> 0.5, "src1" -> 0.25), defaultRate = 0.1)

  /** Exact-count deterministic sample: the 500 docs with smallest
    * md5('sN'||doc_id) — TakeOrderedAndProject, no global sort.
    */
  def pipelineSampleN(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.sampleN(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "sN", n = 500)

  /** Exactly 100 docs per source, deterministic hash order, bounded-heap
    * reduce (no per-group window funnel).
    */
  def pipelineSampleGroup(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.sampleNPerGroup(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source", "sG", nPer = 100)

  /** Top-32 tokens per language via the O(k) Misra–Gries summary — the
    * at-scale variant of pl_vocab (which aggregates the full vocabulary).
    * Gated through the MG GUARANTEES (exact integer predicates over the
    * exact token counts — over-count, n/(k+1) bound, missed-heavy,
    * summary size), since the raw counts are partitioning-dependent lower
    * bounds no oracle can replay; the property spec stays in
    * TrainingPipelineSpec.
    */
  def pipelineHeavyHitters(s: SparkSession, dir: String): DataFrame =
    TrainingPipeline.heavyHittersChecked(
      Tables.documents(s, dir), "text", "lang", k = 32)

  /** Mixture-weighted draw of 400 docs: src0 weighted 4, src1 weighted 2,
    * rest 1 — the integer-replication min-hash key, exactly replayed by
    * the oracle.
    */
  def pipelineSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .withColumn("wt",
        when(col("source") === "src0", 4L)
          .when(col("source") === "src1", 2L).otherwise(1L))
    TrainingPipeline.sampleWeighted(d, "doc_id", "wt", "sW", n = 400)
  }

  /** Corpus-wide line dedup over a deterministically "boilerplated" corpus:
    * the base docs are single-line and all distinct, so the fixture plants
    * the repeats line dedup exists for — a newsletter footer on every 3rd
    * doc, a cookie banner on every 5th, an in-doc repeated line on every
    * 7th, trailing blank lines on every 4th (blank = exempt), and every
    * 10th doc quoting the NEXT doc's whole text as an extra line (so the
    * quoting doc, having the smaller id, steals ownership and the original
    * loses its body — position order decides, exactly as at corpus scale).
    */
  def dedupLines(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val nxt = d.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("next_text"))
    val dec = d.join(nxt, Seq("doc_id"), "left")
      .withColumn("t",
        when(col("doc_id") % 10 === 0 && col("next_text").isNotNull,
          concat(col("text"), lit("\n"), col("next_text")))
          .otherwise(col("text")))
      .withColumn("t", when(col("doc_id") % 3 === 0, concat(col("t"),
          lit("\nSubscribe to our newsletter today!\nAll rights reserved.")))
        .otherwise(col("t")))
      .withColumn("t", when(col("doc_id") % 5 === 0,
          concat(lit("Cookie notice: this site uses cookies.\n"), col("t")))
        .otherwise(col("t")))
      .withColumn("t", when(col("doc_id") % 7 === 0,
          concat(col("t"), lit("\nrepeat me\nrepeat me")))
        .otherwise(col("t")))
      .withColumn("t", when(col("doc_id") % 4 === 0,
          concat(col("t"), lit("\n\n"))).otherwise(col("t")))
      .select(col("doc_id"), col("t").as("text"))
    Dedup.lineDedup(dec, "doc_id", "text")
  }

  /** Incremental line dedup, the daily-ingest twin of [[dedupLines]]:
    * history is every doc_id % 5 != 0 document (hashed once into a
    * [[Dedup.lineIndex]]); the batch is the rest, each quoting its
    * successor's text (a history hit), every 10th sharing a footer line
    * (a within-batch dup — first batch occurrence keeps), every 20th
    * carrying trailing blanks (exempt).
    */
  def dedupIncLines(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val hist = d.filter(col("doc_id") % 5 =!= 0)
    val nxt = d.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("next_text"))
    val batch = d.filter(col("doc_id") % 5 === 0)
      .join(nxt, Seq("doc_id"), "left")
      .withColumn("t", when(col("next_text").isNotNull,
          concat(col("text"), lit("\n"), col("next_text")))
        .otherwise(col("text")))
      .withColumn("t", when(col("doc_id") % 10 === 0,
          concat(col("t"), lit("\nShared footer line."))).otherwise(col("t")))
      .withColumn("t", when(col("doc_id") % 20 === 0,
          concat(col("t"), lit("\n\n"))).otherwise(col("t")))
      .select(col("doc_id"), col("t").as("text"))
    Dedup.incrementalLineDedup(batch, Dedup.lineIndex(hist, "text"),
      "doc_id", "text")
  }

  /** Learned language-ID: multinomial NB over hashed tokens, trained on
    * the even-id half, scored on the odd half — the fasttext-classifier
    * role of a CCNet-style pipeline, integer-exact (see ModelFilter).
    */
  def nbLangQ(s: SparkSession, dir: String): DataFrame =
    ModelFilter.naiveBayes(Tables.documents(s, dir), "doc_id", "text",
      "lang", col("doc_id") % 2 === 0)

  /** Stupid-backoff trigram LM: counts from the even-id half, per-doc
    * fixed-point log-scores + backoff-level histogram on the odd half.
    */
  def lmBackoffQ(s: SparkSession, dir: String): DataFrame =
    ModelFilter.stupidBackoff(Tables.documents(s, dir), "doc_id", "text",
      col("doc_id") % 2 === 0)

  /** DSIR importance selection: target = English docs, hashed
    * unigram+bigram buckets, deterministic top-150 by fixed-point log
    * importance ratio.
    */
  def dsirQ(s: SparkSession, dir: String): DataFrame =
    ModelFilter.dsirSelect(Tables.documents(s, dir), "doc_id", "text",
      col("lang") === "en", k = 150, buckets = 2048)

  /** CCNet-style LM quality bucketing (Wenzek et al. 2020 split Common
    * Crawl into head/middle/tail by LM perplexity): per-doc average
    * stupid-backoff log-score over scored (non-OOV) tokens, exact global
    * tertiles via interpolated `percentile` (the q_percentiles-proven
    * Spark↔DuckDB-exact aggregate; at 250 scored docs p·(n-1) lands on
    * integer indices, so the thresholds are pure order statistics), keep
    * head+middle. The composition query for the model family, like
    * pl_corpus_e2e is for the corpus family.
    */
  def filterE2eQ(s: SparkSession, dir: String): DataFrame = {
    val lm = ModelFilter.stupidBackoff(Tables.documents(s, dir),
      "doc_id", "text", col("doc_id") % 2 === 0)
    val scored = lm.select(col("doc_id"), col("n_tokens"), col("n_oov"),
      (col("logscore_fp").cast("double") /
        greatest(col("n_tokens") - col("n_oov"), lit(1L)).cast("double"))
        .as("avg_s"))
    val th = scored.agg(
      percentile(col("avg_s"), lit(1.0 / 3)).as("t1"),
      percentile(col("avg_s"), lit(2.0 / 3)).as("t2"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"), col("avg_s"),
        when(col("avg_s") >= col("t2"), "head")
          .when(col("avg_s") >= col("t1"), "middle")
          .otherwise("tail").as("bucket"),
        (col("avg_s") >= col("t1")).as("kept"))
  }

  /** NB scoring against a PERSISTED model — the production shape: the
    * model tables land as snapshots via a memoized job (training corpus
    * paid once, like the IVF index), and scoring batches join against
    * them. Shares pl_nb_lang's oracle: the frozen-model path must be
    * bit-identical to the train-and-score-in-one-plan path, which is the
    * gate that proves the persistence round-trip is invisible.
    */
  def nbPersistedQ(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_nb_model") { st =>
      val (cnt, classes) = ModelFilter.naiveBayesModel(
        Tables.documents(s, dir), "text", "lang", col("doc_id") % 2 === 0)
      st.write(cnt, "nb_cnt", hashlabel = Some("h"), slices = 4,
        formatVersion = Some(ArtifactFormats.NbModel))
      st.write(classes, "nb_classes", slices = 1,
        formatVersion = Some(ArtifactFormats.NbModel))
      Map("cnt" -> "nb_cnt", "classes" -> "nb_classes")
    }
    ModelFilter.naiveBayesScoreFrozen(
      Tables.documents(s, dir).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", "lang",
      store.readArtifact("nb_cnt", ArtifactFormats.NbModel),
      store.readArtifact("nb_classes", ArtifactFormats.NbModel))
  }

  /** The BM25 family's shared literal query set — multi-term queries over
    * the synthetic vocabulary so tf-normalization, idf spread (common vs
    * rarer terms), and multi-term summation are all exercised.
    */
  private val Bm25Queries = Seq(
    "q_join" -> "fast hash join",
    "q_stream" -> "stream window batch agg",
    "q_sort" -> "customer query sort order table")

  /** BM25 batch baseline: index + score in one plan. */
  def bm25Q(s: SparkSession, dir: String): DataFrame =
    Bm25.bm25(Tables.documents(s, dir), "doc_id", "text", Bm25Queries, k = 10)

  /** BM25 against a PERSISTED inverted index — postings bucketed by term
    * hash (the on-disk inverted-index layout), dictionary and corpus stats
    * beside them, all built once through the memoized job. Shares
    * rt_bm25's oracle: the persistence round-trip must be invisible.
    */
  def bm25PersistedQ(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_bm25_index") { st =>
      val (postings, dict, stats) = Bm25.index(
        Tables.documents(s, dir), "doc_id", "text")
      st.write(postings, "bm25_post", hashlabel = Some("h"), slices = 4,
        formatVersion = Some(ArtifactFormats.Bm25Index))
      st.write(dict, "bm25_dict", hashlabel = Some("h"), slices = 4,
        formatVersion = Some(ArtifactFormats.Bm25Index))
      st.write(stats, "bm25_stats", slices = 1,
        formatVersion = Some(ArtifactFormats.Bm25Index))
      Map("post" -> "bm25_post", "dict" -> "bm25_dict",
        "stats" -> "bm25_stats")
    }
    Bm25.scoreIndexed(
      store.readArtifact("bm25_post", ArtifactFormats.Bm25Index),
      store.readArtifact("bm25_dict", ArtifactFormats.Bm25Index),
      store.readArtifact("bm25_stats", ArtifactFormats.Bm25Index),
      Bm25Queries, k = 10)
  }

  /** INCREMENTAL BM25 indexing: history (doc_id % 2 = 0) indexed and
    * persisted once; the new batch indexes only itself, and scoring runs
    * over the concatenated postings with dict/stats re-aggregated by
    * summation — history text is never re-read. Shares the full-corpus
    * oracle: incremental index ∪ batch index must equal index-at-once.
    */
  def bm25IncQ(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_bm25_hist") { st =>
      val (postings, dict, stats) = Bm25.index(
        Tables.documents(s, dir).filter(col("doc_id") % 2 === 0),
        "doc_id", "text")
      st.write(postings, "bm25h_post", hashlabel = Some("h"), slices = 4,
        formatVersion = Some(ArtifactFormats.Bm25Index))
      st.write(dict, "bm25h_dict", hashlabel = Some("h"), slices = 4,
        formatVersion = Some(ArtifactFormats.Bm25Index))
      st.write(stats, "bm25h_stats", slices = 1,
        formatVersion = Some(ArtifactFormats.Bm25Index))
      Map("post" -> "bm25h_post", "dict" -> "bm25h_dict",
        "stats" -> "bm25h_stats")
    }
    val (bp, bd, bs) = Bm25.index(
      Tables.documents(s, dir).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text")
    Bm25.scoreIndexed(
      store.readArtifact("bm25h_post", ArtifactFormats.Bm25Index)
        .unionByName(bp),
      store.readArtifact("bm25h_dict", ArtifactFormats.Bm25Index)
        .unionByName(bd),
      store.readArtifact("bm25h_stats", ArtifactFormats.Bm25Index)
        .unionByName(bs),
      Bm25Queries, k = 10)
  }

  /** HYBRID retrieval: BM25 lexical leg + quantized-L2 semantic leg fused
    * by integer-exact reciprocal-rank fusion (ops/Rrf.scala). Queries are
    * the first 3 documents themselves ("more-like-this" retrieval — the
    * fixture convention doc_id ≡ vec_id ties the two modalities to the
    * same id space); each leg drops the query document BEFORE its own
    * ranking. The bounded driver-side collect fetches the 3 query texts —
    * the repo's accepted query-set pattern.
    */
  def hybridRrfQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Pq, Rrf, TopKPerGroup}
    val k = 10
    val nq = 3
    val docs = Tables.documents(s, dir)
    val qs = docs.filter(col("doc_id") < nq)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0).toString, r.getString(1))).sortBy(_._1).toSeq
    val (post, dict, stats) = Bm25.index(docs, "doc_id", "text")
    val lexAll = Bm25.scoreAll(post, dict, stats, qs)
      .filter(col("id") =!= col("qid").cast("bigint"))
    val lex = TopKPerGroup(lexAll, Seq("qid"), "score_fp", k, Seq("id"))
      .select(col("qid").cast("bigint").as("qid"), col("id"), col("rank"))
    val qz = Pq.quantized(Tables.embeddings(s, dir), "vec_id", "embedding")
    val pairs = qz.crossJoin(
        broadcast(qz.filter(col("nid") < nq)
          .select(col("nid").as("qid"), col("q").as("qq"))))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        graft.expr.KernelCall.column(col("q"), col("qq"), graft.expr.SqDistLong)
          .as("dist"))
    val sem = TopKPerGroup(pairs, Seq("qid"), "dist", k, Seq("nid"),
        ascending = true)
      .select(col("qid"), col("nid").as("id"), col("rank"))
    Rrf.fuse(Seq(lex, sem), "qid", "id", "rank", k)
  }

  /** Retrieval-quality metrics against the embeddings.label ground truth:
    * per-query MRR, binary-gain DCG with the fixed-point log2 discount,
    * ideal DCG, and nDCG in basis points — the evaluation harness a
    * deployment tunes retrieval against, itself integer-exact and
    * hash-gated (RetrievalOracle.labelEval). Evaluates the deterministic
    * quantized-L2 exact top-k, so metric differences measure EMBEDDING
    * quality, not ranking noise.
    */
  def retrievalEvalQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Pq, TopKPerGroup}
    val k = 10
    val nq = 8
    val emb = Tables.embeddings(s, dir)
    val qz = Pq.quantized(emb, "vec_id", "embedding")
    val pairs = qz.crossJoin(
        broadcast(qz.filter(col("nid") < nq)
          .select(col("nid").as("qid"), col("q").as("qq"))))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        graft.expr.KernelCall.column(col("q"), col("qq"), graft.expr.SqDistLong)
          .as("dist"))
    val ranked = TopKPerGroup(pairs, Seq("qid"), "dist", k, Seq("nid"),
      ascending = true)
    graft.ops.RankEval.labelMetrics(
      ranked.select(col("qid"), col("nid").as("id"), col("rank")),
      emb.select(col("vec_id"), col("label")), k,
      // the ranking's qids are exactly the nid < nq filter's values — a
      // literal superset that spares the plan a second evaluation of the
      // whole ranking subtree (see labelMetrics' qidSuperset note)
      qidSuperset = Some(0L until nq.toLong))
  }

  /** The same metrics over the HYBRID ranking (rt_hybrid_rrf): the
    * evaluation harness applies to any (qid, id, rank) relation, so
    * fusion quality is measured under the identical oracle discipline as
    * the single legs.
    */
  def hybridEvalQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.RankEval.labelMetrics(
      hybridRrfQ(s, dir).select(col("qid"), col("id"), col("rank")),
      Tables.embeddings(s, dir).select(col("vec_id"), col("label")), k = 10,
      // hybridRrfQ's qids are doc_ids < 3 — the literal superset spares
      // the plan a SECOND evaluation of the entire hybrid pipeline
      // (BM25 index + semantic leg; see labelMetrics' qidSuperset note)
      qidSuperset = Some(0L until 3L))

  /** Real BPE: train 200 merges on the corpus (distributed word count →
    * driver merge loop), encode scan-side, emit the exact reconstruction.
    * The oracle hash-gates decode∘encode == normalized text across every
    * document; piece-level equivalence vs a plain-Scala reference is
    * BpeSpec's job (piece counts aren't SQL-expressible without the
    * data-derived merge table).
    */
  def bpeRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val model = Bpe.train(d, "text", numMerges = 200)
    Bpe.encodeStats(d, "doc_id", "text", model)
      .select(col("doc_id"), col("n_tokens"), col("decoded"))
  }

  /** BPE against a PERSISTED model — the production shape, completing the
    * trained-artifact set (NB tables, PQ codebooks, k-means centroids,
    * BM25 index, PageRank ranks all have snapshot twins): the merge table
    * lands as a snapshot via the memoized job (training corpus paid
    * once), encoding re-runs from the LOADED model. Shares
    * pl_bpe_roundtrip's oracle: the round-trip must be invisible —
    * any merge lost, reordered, or corrupted by the store changes some
    * document's reconstruction and breaks the shared hash gate.
    */
  def bpePersistedQ(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_bpe_model") { st =>
      val model = Bpe.train(Tables.documents(s, dir), "text",
        numMerges = 200)
      st.write(Bpe.modelToDf(s, model), "bpe_merges", slices = 1,
        formatVersion = Some(ArtifactFormats.TokenizerModel))
      Map("merges" -> "bpe_merges")
    }
    val model = Bpe.modelFromDf(store.readArtifact("bpe_merges", ArtifactFormats.TokenizerModel))
    Bpe.encodeStats(Tables.documents(s, dir), "doc_id", "text", model)
      .select(col("doc_id"), col("n_tokens"), col("decoded"))
  }

  /** Unigram-LM tokenizer (Kudo 2018): train a 300-piece vocabulary on
    * the corpus (distributed word count → driver seed/hard-EM/prune
    * loop, integer-exact Log2Fp scores), Viterbi-encode scan-side, emit
    * the exact reconstruction. The oracle hash-gates decode∘encode ==
    * normalized text across every document — any piece lost or any
    * Viterbi backtrace bug anywhere in the corpus breaks the gate.
    * Segmentation-level optimality vs exhaustive enumeration is
    * UnigramSpec's job (piece identities aren't SQL-expressible without
    * the data-derived vocabulary).
    */
  def unigramRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val model = Unigram.train(d, "text", vocabSize = 300)
    Unigram.encodeStats(d, "doc_id", "text", model)
      .select(col("doc_id"), col("n_tokens"), col("decoded"))
  }

  /** Unigram against a PERSISTED model — the production shape (the
    * [[bpePersistedQ]] pattern): the scored piece table lands as a
    * snapshot via the memoized job, encoding re-runs from the LOADED
    * model. Shares pl_unigram_roundtrip's oracle: any score or piece
    * corrupted by the store re-segments some word and breaks the shared
    * reconstruction gate only if it breaks coverage — so the twin also
    * re-checks n_tokens, which any vocabulary change cannot alter.
    */
  def unigramPersistedQ(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_unigram_model") { st =>
      val model = Unigram.train(Tables.documents(s, dir), "text",
        vocabSize = 300)
      st.write(Unigram.modelToDf(s, model), "unigram_pieces", slices = 1,
        formatVersion = Some(ArtifactFormats.TokenizerModel))
      Map("pieces" -> "unigram_pieces")
    }
    val model = Unigram.modelFromDf(store.readArtifact("unigram_pieces", ArtifactFormats.TokenizerModel))
    Unigram.encodeStats(Tables.documents(s, dir), "doc_id", "text", model)
      .select(col("doc_id"), col("n_tokens"), col("decoded"))
  }

  /** WordPiece (Schuster & Nakajima 2012 / BERT): train 200
    * likelihood-gain merges (BigInt-exact score comparison), encode by
    * greedy longest-match scan-side, emit the exact reconstruction. The
    * oracle hash-gates decode∘encode == normalized text corpus-wide;
    * training seeds every corpus codepoint (initial + continuation
    * forms), so no token falls to the documented [UNK] lossy case inside
    * the gate. Merge-rule and greedy laws are WordPieceSpec's job.
    */
  def wordPieceRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val model = WordPiece.train(d, "text", numMerges = 200)
    WordPiece.encodeStats(d, "doc_id", "text", model)
      .select(col("doc_id"), col("n_tokens"), col("decoded"))
  }

  /** WordPiece against a PERSISTED vocabulary — greedy longest-match has
    * no scores or merge order, so the piece SET snapshot is the whole
    * model; shares the roundtrip oracle (the pl_bpe_persisted pattern).
    */
  def wordPiecePersistedQ(s: SparkSession, dir: String): DataFrame = {
    val (store, _) = Fixtures(s, dir, "job_wordpiece_model") { st =>
      val model = WordPiece.train(Tables.documents(s, dir), "text",
        numMerges = 200)
      st.write(WordPiece.modelToDf(s, model), "wp_vocab", slices = 1,
        formatVersion = Some(ArtifactFormats.TokenizerModel))
      Map("vocab" -> "wp_vocab")
    }
    val model = WordPiece.modelFromDf(store.readArtifact("wp_vocab", ArtifactFormats.TokenizerModel))
    WordPiece.encodeStats(Tables.documents(s, dir), "doc_id", "text", model)
      .select(col("doc_id"), col("n_tokens"), col("decoded"))
  }

  /** Hostile suffixes for the byte-fallback gate: caseless symbols (no
    * Spark-vs-DuckDB lower() hazard), 3-byte and 4-byte UTF-8 codepoints
    * (astral alchemical symbols exercise surrogate-pair handling and
    * multi-token byte runs), and the literal text `<0x41>` — the
    * byte-token COLLISION probe: it must round-trip as those six
    * characters, never as `A`.
    */
  private val BfHostile: Array[String] =
    Array("☀☂", "⚡❄", "<0x41>",
      new String(Character.toChars(0x1f701)),
      new String(Character.toChars(0x1f773)),
      "≠÷", "ᚠᚢᚦ", "☃")

  /** Every document with its [[BfHostile]] suffix, encoded by all three
    * fallback models and decoded back by the
    * [[graft.expr.DecodePieces]] kernel.
    */
  private def byteFallbackDecoded(d: DataFrame, bpe: graft.expr.BpeModel,
                                  uni: graft.expr.UnigramModel,
                                  wp: graft.expr.WordPieceModel): DataFrame = {
    val hx = element_at(lit(BfHostile),
      (col("doc_id") % BfHostile.length).cast("int") + 1)
    def dec(pieces: org.apache.spark.sql.Column, wordPiece: Boolean) =
      graft.expr.KernelCall.column(pieces, graft.expr.DecodePieces(wordPiece))
    d.select(col("doc_id"),
        concat(col("text"), lit(" "), hx).as("t"))
      .select(col("doc_id"),
        Bpe.pieces(col("t"), bpe).as("bp"),
        Unigram.pieces(col("t"), uni).as("up"),
        WordPiece.pieces(col("t"), wp).as("wpp"))
      .select(col("doc_id"),
        size(col("bp")).cast("long").as("n_tokens"),
        dec(col("bp"), wordPiece = false).as("bpe_dec"),
        dec(col("up"), wordPiece = false).as("uni_dec"),
        dec(col("wpp"), wordPiece = true).as("wp_dec"))
  }

  /** BYTE-FALLBACK round-trip — the three tokenizers under the
    * SentencePiece byte_fallback convention: models train on HALF the
    * corpus (even doc_ids), every vocabulary seeds the 256
    * [[graft.expr.ByteTokens]], and encoding then runs over EVERY
    * document with a hostile suffix appended ([[BfHostile]]) so unseen
    * codepoints are guaranteed at encode time. Uncovered codepoints
    * decompose to the byte tokens of their UTF-8 bytes — `[UNK]` is
    * impossible — and the scan-side [[graft.expr.DecodePieces]] inverts
    * them, so decode∘encode == normalized text corpus-wide: the hash
    * gate the plain round-trips could only claim for in-training
    * alphabets now holds for arbitrary input.
    */
  def byteFallbackQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val half = d.filter(col("doc_id") % 2 === 0)
    val bpe = Bpe.train(half, "text", numMerges = 120, byteFallback = true)
    val uni = Unigram.train(half, "text", vocabSize = 200,
      byteFallback = true)
    val wp = WordPiece.train(half, "text", numMerges = 120,
      byteFallback = true)
    byteFallbackDecoded(d, bpe, uni, wp)
  }

  /** Byte-fallback against PERSISTED models — the production shape: all
    * three fallback vocabularies (byte tokens included — they are real
    * vocabulary members) land as snapshots via the memoized job, models
    * reload with the fallback flag re-armed, and the same hostile-suffix
    * encode must reconstruct every document. Shares [[byteFallbackQ]]'s
    * oracle: a byte token lost or re-spelled by the store would break
    * some document's reconstruction hash.
    */
  def byteFallbackPersistedQ(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val (store, _) = Fixtures(s, dir, "job_bytefallback_models") { st =>
      val half = d.filter(col("doc_id") % 2 === 0)
      st.write(Bpe.modelToDf(s, Bpe.train(half, "text", numMerges = 120,
        byteFallback = true)), "bf_bpe_merges", slices = 1,
        formatVersion = Some(ArtifactFormats.TokenizerModel))
      st.write(Unigram.modelToDf(s, Unigram.train(half, "text",
        vocabSize = 200, byteFallback = true)), "bf_uni_pieces",
        slices = 1, formatVersion = Some(ArtifactFormats.TokenizerModel))
      st.write(WordPiece.modelToDf(s, WordPiece.train(half, "text",
        numMerges = 120, byteFallback = true)), "bf_wp_vocab", slices = 1,
        formatVersion = Some(ArtifactFormats.TokenizerModel))
      Map("bpe" -> "bf_bpe_merges", "uni" -> "bf_uni_pieces",
        "wp" -> "bf_wp_vocab")
    }
    val bpe = Bpe.modelFromDf(store.readArtifact("bf_bpe_merges", ArtifactFormats.TokenizerModel))
    val uni = Unigram.modelFromDf(store.readArtifact("bf_uni_pieces", ArtifactFormats.TokenizerModel),
      byteFallback = true)
    val wp = WordPiece.modelFromDf(store.readArtifact("bf_wp_vocab", ArtifactFormats.TokenizerModel),
      byteFallback = true)
    byteFallbackDecoded(d, bpe, uni, wp)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pl_byte_fallback" -> byteFallbackQ _,
    "pl_byte_fallback_persisted" -> byteFallbackPersistedQ _,
    "pl_unigram_roundtrip" -> unigramRoundtripQ _,
    "pl_unigram_persisted" -> unigramPersistedQ _,
    "pl_wordpiece_roundtrip" -> wordPieceRoundtripQ _,
    "pl_wordpiece_persisted" -> wordPiecePersistedQ _,
    "pl_split" -> pipelineSplit _,
    "pl_shuffle" -> pipelineShuffle _,
    "pl_chunks" -> pipelineChunks _,
    "pl_decontam" -> pipelineDecontam _,
    "pl_decontam_bloom" -> pipelineDecontamBloom _,
    "pl_decontam_report" -> pipelineDecontamReport _,
    "pl_sample" -> pipelineSample _,
    "pl_sample_n" -> pipelineSampleN _,
    "pl_sample_group" -> pipelineSampleGroup _,
    "pl_heavy_hitters" -> pipelineHeavyHitters _,
    "pl_sample_weighted" -> pipelineSampleWeighted _,
    "pl_epochs" -> pipelineEpochs _,
    "pl_cap" -> pipelineCap _,
    "pl_corpus_e2e" -> corpusE2E _,
    "pl_pack" -> pipelinePack _,
    "tx_scrub" -> scrub _,
    "tx_html" -> htmlStrip _,
    "tx_c4_lines" -> c4Lines _,
    "pl_report" -> corpusReport _,
    "tx_nfc" -> nfc _,
    "tx_entropy" -> entropyQ _,
    "dd_incremental" -> dedupIncremental _,
    "dd_inc_minhash" -> dedupIncMinhash _,
    "dd_compact_minhash" -> dedupCompactMinhash _,
    "pl_jsonl_roundtrip" -> jsonlRoundtrip _,
    "ann_quantized_rerank" -> annQuantizedRerank _,
    "tx_gopher" -> gopher _,
    "pl_dedup_corpus" -> pipelineDedupCorpus _,
    "tx_stats" -> textStats _,
    "tx_quality" -> quality _,
    "tx_langid" -> langid _,
    "tx_fingerprint" -> fingerprintQ _,
    "tx_repetition" -> repetition _,
    "pl_vocab" -> vocab _,
    "tx_keywords" -> keywords _,
    "dd_spans" -> dedupSpans _,
    "dd_line_dedup" -> dedupLines _,
    "dd_inc_lines" -> dedupIncLines _,
    "dd_exact" -> dedupExact _,
    "dd_ngram_jaccard" -> dedupNgram _,
    "dd_minhash_lsh" -> dedupMinhash _,
    "dd_simhash" -> dedupSimhash _,
    "dd_simhash_wide" -> dedupSimhashWide _,
    "dd_simhash_hist" -> dedupSimhashHist _,
    "dd_embedding_cosine" -> dedupEmbedding _,
    "dd_clusters" -> dedupClusters _,
    "ann_brute_topk" -> annBrute _,
    "ann_lsh_topk" -> annLsh _,
    "ann_ivf_topk" -> annIvf _,
    "ann_ivf_persisted" -> annIvfPersisted _,
    "ann_quantize" -> annQuantize _,
    "pl_kmeans" -> kmeansQ _,
    "dd_semantic" -> semDedupQ _,
    "pl_cluster_sample" -> clusterSampleQ _,
    "pl_prototype_prune" -> prototypePruneQ _,
    "dd_inc_semantic" -> incSemanticQ _,
    "pl_cluster_report" -> clusterReportQ _,
    "pl_curation_e2e" -> curationE2eQ _,
    "pl_kmeans2" -> kmeans2Q _,
    "dd_semantic_2level" -> semDedup2Q _,
    "pl_nb_lang" -> nbLangQ _,
    "pl_lm_backoff" -> lmBackoffQ _,
    "pl_dsir" -> dsirQ _,
    "pl_bpe_roundtrip" -> bpeRoundtripQ _,
    "pl_bpe_persisted" -> bpePersistedQ _,
    "pl_nb_persisted" -> nbPersistedQ _,
    "pl_filter_e2e" -> filterE2eQ _,
    "rt_bm25" -> bm25Q _,
    "rt_bm25_persisted" -> bm25PersistedQ _,
    "rt_bm25_inc" -> bm25IncQ _,
    "rt_hybrid_rrf" -> hybridRrfQ _,
    "rt_eval_labels" -> retrievalEvalQ _,
    "rt_eval_hybrid" -> hybridEvalQ _,
    "ann_pq" -> annPq _,
    "ann_pq_persisted" -> annPqPersisted _,
    "ann_ivfpq" -> annIvfPq _,
    "ann_pq_recall" -> annPqRecall _,
  )

  // DuckDB-side common table prefixes (carries n_chars through so consumers
  // never need to re-join documents — a self-join made `text` ambiguous)
  // toks drops empty strings — split emits "" at leading/trailing
  // whitespace, matching TextFunctions.tokens' array_remove(…, "")
  private val TOKS =
    """d AS (SELECT doc_id, lang, text, n_chars,
       [t for t in regexp_split_to_array(text, '\s+') if t <> ''] toks,
       regexp_split_to_array(lower(trim(regexp_replace(text,'\s+',' '))), ' ') ntoks
       FROM documents)"""
  private val STOP = "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this']"

  val oracle: Map[String, String] = Map(
    "dd_incremental" ->
      """WITH batch AS (
           SELECT d.doc_id,
                  CASE WHEN d.doc_id % 10 = 0 THEN coalesce(s.text, d.text) ELSE d.text END AS text
           FROM documents d LEFT JOIN documents s ON s.doc_id = d.doc_id + 1
           WHERE d.doc_id % 5 = 0
         ), hist AS (
           SELECT DISTINCT ('0x' || substr(md5(lower(trim(regexp_replace(text,'\s+',' ')))),1,15))::BIGINT AS fp
           FROM documents WHERE doc_id % 5 != 0
         ), bfp AS (
           SELECT doc_id,
                  ('0x' || substr(md5(lower(trim(regexp_replace(text,'\s+',' ')))),1,15))::BIGINT AS fp
           FROM batch
         )
         SELECT min(doc_id) AS doc_id, fp FROM bfp
         WHERE fp NOT IN (SELECT fp FROM hist)
         GROUP BY fp""",
    "tx_scrub" ->
      """WITH dec AS (
           SELECT doc_id, text || ' contact user' || doc_id || '@example.com or user'
             || doc_id || '@sub.example.co.uk via https://ex.org/d/' || doc_id
             || '?x=1 tel 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')
             || CASE WHEN doc_id % 2 = 0 THEN ' 555-123-4567' ELSE '' END AS t
           FROM documents
         )
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3,4}(-[0-9]{4})?')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\s]+', '<URL>', 'g'),
             '[0-9]{3}-[0-9]{3,4}(-[0-9]{4})?', '<PHONE>', 'g') AS clean
         FROM dec""",
    "tx_c4_lines" ->
      """WITH dec AS (SELECT doc_id,
           text || '.' || chr(10) || 'home | about | contact'
             || chr(10) || 'Click here'
             || chr(10) || 'This sentence has exactly seven words total.'
             || chr(10) || 'short.' AS t
           FROM documents),
         l AS (SELECT doc_id, t, regexp_split_to_array(t, '\r?\n') AS lines FROM dec),
         k AS (SELECT doc_id, t, lines,
             [x for x in lines if regexp_matches(trim(x), '[.!?"]$')
              and len([w for w in regexp_split_to_array(trim(x), '\s+') if w <> '']) >= 5] AS kept
           FROM l)
         SELECT doc_id,
           len(lines)::BIGINT AS n_lines,
           len(kept)::BIGINT AS n_kept,
           coalesce(array_to_string(kept, chr(10)), '') AS clean
         FROM k""",
    "pl_report" ->
      s"""WITH d AS (SELECT doc_id, source, text,
             [t for t in regexp_split_to_array(text, '\\s+') if t <> ''] toks,
             regexp_split_to_array(lower(trim(regexp_replace(text,'\\s+',' '))), ' ') ntoks
           FROM documents),
         q AS (SELECT *,
             least(1.0, length(text)::DOUBLE / 400.0) * 0.4
             + (len(list_distinct(toks))::DOUBLE / greatest(len(toks),1)) * 0.4
             + (CASE WHEN sw >= 0.05 AND sw <= 0.6 THEN 1.0 ELSE 0.0 END) * 0.2 AS quality
           FROM (SELECT *,
               len([t for t in ntoks if list_contains($STOP, t)])::DOUBLE
                 / greatest(len(toks),1) sw,
               len([t for t in ntoks if list_contains(['the','and','of','to','is'], t)])::BIGINT s_en,
               len([t for t in ntoks if list_contains(['der','die','und','das','ist'], t)])::BIGINT s_de,
               len([t for t in ntoks if list_contains(['le','la','les','et','est'], t)])::BIGINT s_fr,
               len([t for t in ntoks if list_contains(['el','los','las','y','es'], t)])::BIGINT s_es,
               len([t for t in ntoks if list_contains(['的','是','在','了','和'], t)])::BIGINT s_zh
             FROM d) z)
         SELECT count(*)::BIGINT AS n_docs,
           count(DISTINCT ('0x'||substr(md5(lower(trim(regexp_replace(text,'\\s+',' ')))),1,15))::BIGINT)::BIGINT AS n_unique_contents,
           count(DISTINCT source)::BIGINT AS n_sources,
           sum(len(toks))::BIGINT AS total_tokens,
           min(len(toks))::BIGINT AS min_tokens,
           max(len(toks))::BIGINT AS max_tokens,
           sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_quality_ok,
           sum(CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) > 0
                     AND s_en = greatest(s_en,s_de,s_fr,s_es,s_zh)
                    THEN 1 ELSE 0 END)::BIGINT AS n_detected_en
         FROM q""",
    // entropy: same log2fp recurrence as the model family, over per-doc
    // code-point / normalized-token histograms. DuckDB's string_split
    // with '' separator splits by code point (combining marks separate),
    // matching Java codePoints(); the list-comprehension filter keeps the
    // empty-string corner (split('','') = ['']) from minting a phantom
    // symbol.
    "tx_entropy" ->
      raw"""WITH ch AS (SELECT doc_id, c, count(*)::BIGINT cn FROM (
             SELECT doc_id, unnest([x for x in string_split(text, '') if x <> '']) c
             FROM documents) GROUP BY 1, 2),
           chn AS (SELECT doc_id, sum(cn)::BIGINT n FROM ch GROUP BY 1),
           che AS (SELECT ch.doc_id,
               sum(cn * (${ModelOracle.log2fp("n")} - ${ModelOracle.log2fp("cn")}))::BIGINT e
             FROM ch JOIN chn USING (doc_id) GROUP BY 1),
           tk AS (SELECT doc_id, t, count(*)::BIGINT cn FROM (
             SELECT doc_id, unnest([x for x in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if x <> '']) t
             FROM documents) GROUP BY 1, 2),
           tkn AS (SELECT doc_id, sum(cn)::BIGINT n FROM tk GROUP BY 1),
           tke AS (SELECT tk.doc_id,
               sum(cn * (${ModelOracle.log2fp("n")} - ${ModelOracle.log2fp("cn")}))::BIGINT e
             FROM tk JOIN tkn USING (doc_id) GROUP BY 1)
           SELECT d.doc_id,
             coalesce(chn.n, 0) AS n_cp, coalesce(che.e, 0) AS ent_char_fp,
             coalesce(tkn.n, 0) AS n_tok, coalesce(tke.e, 0) AS ent_tok_fp
           FROM documents d
           LEFT JOIN chn ON chn.doc_id = d.doc_id
           LEFT JOIN che ON che.doc_id = d.doc_id
           LEFT JOIN tkn ON tkn.doc_id = d.doc_id
           LEFT JOIN tke ON tke.doc_id = d.doc_id""",
    "tx_nfc" ->
      """WITH dec AS (SELECT doc_id, text ||
           CASE doc_id % 4
             WHEN 0 THEN ' Cafe' || chr(769)
             WHEN 1 THEN ' A' || chr(778)
             WHEN 2 THEN ' ' || chr(8491)
             ELSE ' ' || chr(233) END AS t
           FROM documents)
         SELECT doc_id, nfc_normalize(t) AS norm,
           (nfc_normalize(t) != t) AS changed
         FROM dec""",
    "tx_html" ->
      """WITH dec AS (SELECT doc_id,
           '<html><body class="d' || doc_id || '"><h1>Doc &amp; &lt;' || doc_id
           || '&gt; &#39;q&#39;&nbsp;</h1><p>' || text
           || '</p><script>var x = 1 &amp;&amp; 2;' || chr(10)
           || 'if (x < 3) { x = 4; }</script>'
           || CASE WHEN doc_id % 3 = 0
                THEN '<style>.a { color: red }' || chr(10) || '.b>i { }</style>'
                ELSE '' END
           || '</body></html>' AS t
           FROM documents),
         s1 AS (SELECT doc_id,
           regexp_replace(t, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM dec),
         s2 AS (SELECT doc_id,
           regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
         s4 AS (SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(t, '&nbsp;', ' ', 'g'),
             '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
             '&#39;', '''', 'g'), '&amp;', '&', 'g') AS t FROM s3)
         SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean
         FROM s4""",
    "pl_pack" ->
      """WITH t AS (
           SELECT doc_id,
                  len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS n
           FROM documents
         ), o AS (
           SELECT doc_id, n,
                  coalesce(sum(n) OVER (ORDER BY md5('p1'||doc_id::VARCHAR), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM t
         )
         SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(off // 2048 AS BIGINT) AS pack_id,
           CAST(off % 2048 AS BIGINT) AS pack_off,
           CAST((off + greatest(n, 1) - 1) // 2048 - off // 2048 + 1 AS BIGINT) AS packs_spanned
         FROM o""",
    "pl_split" ->
      """SELECT doc_id,
         CASE WHEN ('0x'||substr(md5('s7'||doc_id::VARCHAR),1,15))::BIGINT % 1000000 < 800000 THEN 'train'
              WHEN ('0x'||substr(md5('s7'||doc_id::VARCHAR),1,15))::BIGINT % 1000000 < 900000 THEN 'val'
              ELSE 'test' END AS split
         FROM documents""",
    "pl_shuffle" ->
      """SELECT doc_id,
         row_number() OVER (ORDER BY md5('e1'||doc_id::VARCHAR), doc_id) - 1 AS pos
         FROM documents""",
    "pl_chunks" ->
      """WITH toks AS (
           SELECT doc_id,
                  [x for x in regexp_split_to_array(text, '\s+') if x <> ''] AS t,
                  len([x for x in regexp_split_to_array(text, '\s+') if x <> '']) AS n
           FROM documents
         ), ix AS (
           SELECT doc_id, t, n, ((greatest(n - 64, 0) + 47) // 48) + 1 AS nchunks
           FROM toks WHERE n > 0
         )
         SELECT doc_id, i AS chunk_ix,
           array_to_string(t[i*48+1 : least(i*48+64, n)], ' ') AS chunk_text,
           least(i*48+64, n) - i*48 AS chunk_tokens
         FROM ix, LATERAL unnest(range(nchunks)) AS u(i)""",
    "tx_stats" ->
      s"""WITH $TOKS
         SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           length(text)::BIGINT AS n_chars_computed,
           n_chars AS n_chars_stored,
           len(list_distinct(toks))::DOUBLE / greatest(len(toks),1) AS distinct_ratio,
           len([t for t in regexp_split_to_array(lower(trim(text)),'\\s+') if list_contains($STOP, t)])::DOUBLE / greatest(len(toks),1) AS stopword_ratio,
           coalesce(list_sum(list_transform(ntoks, t -> (length(t)+5)//6)), 0)::BIGINT AS n_subwords
         FROM d""".stripMargin,
    "tx_quality" ->
      s"""WITH $TOKS
         SELECT doc_id,
           least(1.0, length(text)::DOUBLE / 400.0) * 0.4
           + (len(list_distinct(toks))::DOUBLE / greatest(len(toks),1)) * 0.4
           + (CASE WHEN sw >= 0.05 AND sw <= 0.6 THEN 1.0 ELSE 0.0 END) * 0.2 AS quality
         FROM (SELECT doc_id, text, toks,
             len([t for t in ntoks if list_contains($STOP, t)])::DOUBLE / greatest(len(toks),1) sw
           FROM d) t""",
    "tx_langid" ->
      s"""WITH $TOKS,
         sc AS (SELECT doc_id, lang,
           len([t for t in ntoks if list_contains(['the','and','of','to','is'], t)])::BIGINT s_en,
           len([t for t in ntoks if list_contains(['der','die','und','das','ist'], t)])::BIGINT s_de,
           len([t for t in ntoks if list_contains(['le','la','les','et','est'], t)])::BIGINT s_fr,
           len([t for t in ntoks if list_contains(['el','los','las','y','es'], t)])::BIGINT s_es,
           len([t for t in ntoks if list_contains(['的','是','在','了','和'], t)])::BIGINT s_zh
           FROM d)
         SELECT doc_id, lang AS labeled_lang,
           CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_zh) = 0 THEN 'und'
                WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'en'
                WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'de'
                WHEN s_fr = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'fr'
                WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_zh) THEN 'es'
                ELSE 'zh' END AS detected_lang,
           s_en AS en_score
         FROM sc""",
    "tx_fingerprint" ->
      """WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text,'\s+',' '))) norm FROM documents)
         SELECT doc_id,
           ('0x' || substr(md5(norm),1,15))::BIGINT AS fp,
           list_reduce([0]::BIGINT[] || [('0x' || substr(md5(t),1,15))::BIGINT for t in string_split(norm,' ')],
             (acc, h) -> (acc * 31 + h) % 1099511627776) AS rolling_fp
         FROM n""",
    "dd_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
         FROM documents GROUP BY lower(trim(regexp_replace(text,'\s+',' ')))""",
    "tx_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') t FROM documents),
         x AS (SELECT doc_id,
             CASE WHEN len(t) < 3 THEN 1 ELSE len(t) - 2 END::BIGINT trigram_total,
             len(list_distinct(list_transform(
               CASE WHEN len(t) < 3 THEN [list_aggregate(t, 'string_agg', '')]
                    ELSE [t[i]||t[i+1]||t[i+2] for i in range(1, len(t)-1)] END,
               s -> ('0x'||substr(md5(s),1,10))::BIGINT)))::BIGINT trigram_distinct
           FROM t)
         SELECT doc_id, trigram_total, trigram_distinct,
           1.0 - trigram_distinct::DOUBLE / trigram_total::DOUBLE AS rep_ratio
         FROM x""",
    "pl_decontam" -> OracleGen.decontaminate(50, 0.5),
    "pl_decontam_bloom" -> OracleGen.decontaminate(50, 0.5),
    "pl_decontam_report" -> OracleGen.contaminationReport(50, 5000L),
    // the composed pipeline: each CTE mirrors one stage's already-verified
    // oracle formula (quality from tx_quality, fingerprint dedup from
    // dd_exact, shingle containment from pl_decontam, split from pl_split,
    // cap from pl_cap, packing from pl_pack) with this query's salts
    "pl_corpus_e2e" ->
      s"""WITH pool AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 50 != 0),
         q0 AS (SELECT doc_id, source, text,
             [x for x in regexp_split_to_array(text, '\\s+') if x <> ''] rt,
             regexp_split_to_array(lower(trim(regexp_replace(text,'\\s+',' '))), ' ') nt
           FROM pool),
         q1 AS (SELECT doc_id, source, text,
             least(1.0, length(text)::DOUBLE / 400.0) * 0.4
             + (len(list_distinct(rt))::DOUBLE / greatest(len(rt),1)) * 0.4
             + (CASE WHEN sw >= 0.05 AND sw <= 0.6 THEN 1.0 ELSE 0.0 END) * 0.2 AS quality
           FROM (SELECT *, len([t for t in nt if list_contains($STOP, t)])::DOUBLE
                   / greatest(len(rt),1) sw FROM q0) z),
         qual AS (SELECT doc_id, source, text FROM q1 WHERE quality >= 0.5),
         keepid AS (SELECT min(doc_id) doc_id FROM qual
           GROUP BY lower(trim(regexp_replace(text,'\\s+',' ')))),
         d2 AS (SELECT q.* FROM qual q JOIN keepid USING (doc_id)),
         bt AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\\s+',' '))),' ') t
           FROM documents WHERE doc_id % 50 = 0),
         bsh AS (SELECT doc_id, list_distinct(
             CASE WHEN len(t) < 3 THEN [list_aggregate(t, 'string_agg', chr(1))]
             ELSE [t[i]||chr(1)||t[i+1]||chr(1)||t[i+2] for i in range(1, len(t)-1)] END) s
           FROM bt),
         bench AS (SELECT DISTINCT ('0x'||substr(md5(x),1,10))::BIGINT h
           FROM bsh, LATERAL unnest(s) AS u(x)),
         dt AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text,'\\s+',' '))),' ') t
           FROM d2),
         dsh AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(t) < 3 THEN [list_aggregate(t, 'string_agg', chr(1))]
             ELSE [t[i]||chr(1)||t[i+1]||chr(1)||t[i+2] for i in range(1, len(t)-1)] END,
             x -> ('0x'||substr(md5(x),1,10))::BIGINT)) hs FROM dt),
         ex AS (SELECT doc_id, unnest(hs) h FROM dsh),
         agg AS (SELECT ex.doc_id, count(*)::BIGINT n_sh,
             sum(CASE WHEN bench.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT n_ov
           FROM ex LEFT JOIN bench ON ex.h = bench.h GROUP BY ex.doc_id),
         clean AS (SELECT doc_id FROM agg WHERE NOT (n_ov::DOUBLE / n_sh >= 0.5)),
         tr AS (SELECT d2.doc_id, d2.source FROM d2 JOIN clean USING (doc_id)
           WHERE ('0x'||substr(md5('e2'||d2.doc_id::VARCHAR),1,15))::BIGINT % 1000000 < 900000),
         cap AS (SELECT doc_id, source FROM (
             SELECT doc_id, source, row_number() OVER (PARTITION BY source
               ORDER BY md5('c2'||doc_id::VARCHAR) ASC, doc_id ASC) rn FROM tr) z
           WHERE rn <= 80),
         lens AS (SELECT c.doc_id, len(q0.rt) n FROM cap c JOIN q0 USING (doc_id)),
         o AS (SELECT doc_id, n,
             coalesce(sum(n) OVER (ORDER BY md5('p2'||doc_id::VARCHAR), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM lens)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(off // 512 AS BIGINT) AS pack_id,
           CAST(off % 512 AS BIGINT) AS pack_off,
           CAST((off + greatest(n, 1) - 1) // 512 - off // 512 + 1 AS BIGINT) AS packs_spanned
         FROM o""",
    "pl_cap" ->
      """SELECT source, doc_id, rank FROM (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5('c1'||doc_id::VARCHAR) ASC, doc_id ASC) AS rank
           FROM documents) t
         WHERE rank <= 60""",
    "pl_epochs" ->
      """WITH w AS (SELECT doc_id, source,
           CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1 ELSE 0 END
           + CASE WHEN ('0x'||substr(md5('w3'||doc_id::VARCHAR),1,15))::BIGINT % 1000000 <
               CASE source WHEN 'src0' THEN 500000 WHEN 'src1' THEN 0 ELSE 250000 END
             THEN 1 ELSE 0 END AS n
           FROM documents)
         SELECT doc_id, source, c AS copy
         FROM w, LATERAL unnest(range(n)) AS u(c)""",
    "pl_sample" ->
      """SELECT doc_id, source FROM documents
         WHERE ('0x'||substr(md5('s9'||doc_id::VARCHAR),1,15))::BIGINT % 1000000 <
           CASE source WHEN 'src0' THEN 500000 WHEN 'src1' THEN 250000
                ELSE 100000 END""",
    // same hash order both engines: lowercase-hex md5 compares bytewise
    "pl_sample_n" ->
      """SELECT doc_id, source FROM documents
         ORDER BY md5('sN'||doc_id::VARCHAR), doc_id LIMIT 500""",
    "pl_sample_group" ->
      """SELECT source, rank, doc_id FROM (
           SELECT source, doc_id, row_number() OVER (
             PARTITION BY source
             ORDER BY md5('sG'||doc_id::VARCHAR), doc_id) AS rank
           FROM documents) WHERE rank <= 100""",
    "pl_sample_weighted" ->
      """SELECT doc_id, source, wt FROM (
           SELECT doc_id, source, wt,
             list_min(list_transform(range(1, wt + 1),
               j -> md5('sW'||doc_id::VARCHAR||'-'||j::VARCHAR))) AS rk
           FROM (SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2 ELSE 1 END::BIGINT AS wt
             FROM documents))
         ORDER BY rk, doc_id LIMIT 400""",
    // normalized-token CTE shared by the three corpus-statistics oracles:
    // identical to TextFunctions.tokens(normalized(text)) — split the
    // whitespace-collapsed lowercased text and drop empties
    //
    // MG guarantee gate: the oracle replays the exact per-lang token
    // totals and expects zero guarantee violations (see
    // TrainingPipeline.heavyHittersChecked — over-count, n/(k+1) bound,
    // missed-heavy, summary size are exact integer predicates even though
    // the MG counts themselves are partitioning-dependent)
    "pl_heavy_hitters" ->
      """WITH n AS (SELECT doc_id, lang,
             [t for t in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if t <> ''] ts
           FROM documents),
         tok AS (SELECT lang, t FROM n, LATERAL unnest(ts) AS u(t)),
         tot AS (SELECT lang, count(*) AS n_tokens FROM tok GROUP BY 1)
         SELECT lang, n_tokens, 0::BIGINT AS over_violations,
           0::BIGINT AS under_violations, 0::BIGINT AS missed_heavy,
           true AS size_ok
         FROM tot""",
    "pl_vocab" ->
      """WITH n AS (SELECT doc_id,
             [t for t in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if t <> ''] ts
           FROM documents),
         tf AS (SELECT t AS token, count(*) AS tf
           FROM n, LATERAL unnest(ts) AS u(t) GROUP BY 1),
         dfc AS (SELECT token, count(*) AS df FROM
           (SELECT DISTINCT doc_id, t AS token FROM n, LATERAL unnest(ts) AS u(t))
           GROUP BY 1)
         SELECT token, tf, df,
           row_number() OVER (ORDER BY tf DESC, token ASC) AS "rank"
         FROM tf JOIN dfc USING (token)
         WHERE df >= 2
         ORDER BY tf DESC, token ASC
         LIMIT 100""",
    "tx_keywords" ->
      """WITH n AS (SELECT doc_id,
             [t for t in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if t <> ''] ts
           FROM documents),
         pairs AS (SELECT doc_id, t AS token, count(*) AS tf_doc
           FROM n, LATERAL unnest(ts) AS u(t) GROUP BY 1, 2),
         dfc AS (SELECT token, count(*) AS df FROM pairs GROUP BY 1),
         scored AS (SELECT p.doc_id, p.token, p.tf_doc, d.df,
             p.tf_doc::DOUBLE * (SELECT count(*) FROM documents)::DOUBLE / d.df::DOUBLE AS score
           FROM pairs p JOIN dfc d USING (token))
         SELECT doc_id, "rank", token, tf_doc, df, score FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) AS "rank"
           FROM scored) t
         WHERE "rank" <= 3""",
    "dd_spans" ->
      """WITH n AS (SELECT doc_id,
             [t for t in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if t <> ''] ts
           FROM documents),
         grams AS (SELECT doc_id, i AS pos,
             ('0x'||substr(md5(array_to_string(ts[i+1:i+10],' ')),1,15))::BIGINT AS h
           FROM n, LATERAL unnest(range(greatest(len(ts)-9, 0))) AS u(i)),
         owners AS (SELECT h, min(doc_id) AS owner FROM grams GROUP BY h),
         dup AS (SELECT g.doc_id, list_sort(list(g.pos)) AS ps
           FROM grams g JOIN owners o USING (h)
           WHERE g.doc_id > o.owner GROUP BY g.doc_id),
         j AS (SELECT n.doc_id, n.ts, coalesce(dup.ps, []) AS ps
           FROM n LEFT JOIN dup USING (doc_id)),
         c AS (SELECT doc_id, ts, ps,
             [ts[i+1] for i in range(len(ts))
              if len([p for p in ps if p <= i AND i < p + 10]) = 0] AS clean
           FROM j)
         SELECT doc_id,
           len(ts)::BIGINT AS n_tokens,
           len(ps)::BIGINT AS n_dup_ngrams,
           (len(ts) - len(clean))::BIGINT AS n_removed,
           coalesce(array_to_string(clean, ' '), '') AS clean_text
         FROM c""",
    "dd_line_dedup" ->
      """WITH s0 AS (SELECT d.doc_id,
             CASE WHEN d.doc_id % 10 = 0 AND n.text IS NOT NULL
                  THEN d.text || chr(10) || n.text ELSE d.text END AS t
           FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1),
         s1 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
             THEN t || chr(10) || 'Subscribe to our newsletter today!'
                    || chr(10) || 'All rights reserved.'
             ELSE t END AS t FROM s0),
         s2 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
             THEN 'Cookie notice: this site uses cookies.' || chr(10) || t
             ELSE t END AS t FROM s1),
         s3 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
             THEN t || chr(10) || 'repeat me' || chr(10) || 'repeat me'
             ELSE t END AS t FROM s2),
         dec AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
             THEN t || chr(10) || chr(10) ELSE t END AS t FROM s3),
         l AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls FROM dec),
         o0 AS (SELECT doc_id, unnest(ls) AS line,
             generate_subscripts(ls, 1) AS pos FROM l),
         o2 AS (SELECT doc_id, pos, md5(line) AS h,
             doc_id * 1048576 + pos AS kk FROM o0 WHERE trim(line) <> ''),
         own AS (SELECT h, min(kk) AS k0 FROM o2 GROUP BY h),
         dr AS (SELECT o2.doc_id, list(o2.pos) AS ps
           FROM o2 JOIN own USING (h) WHERE o2.kk <> own.k0
           GROUP BY o2.doc_id),
         fin AS (SELECT l.doc_id, l.t, l.ls, coalesce(dr.ps, []) AS ps
           FROM l LEFT JOIN dr USING (doc_id))
         SELECT doc_id,
           len(ls)::BIGINT AS n_lines,
           len(ps)::BIGINT AS n_lines_dropped,
           CASE WHEN len(ps) = 0 THEN t
                ELSE array_to_string([ls[i+1] for i in range(len(ls))
                                      if NOT list_contains(ps, i+1)], chr(10))
           END AS text_dedup
         FROM fin""",
    "dd_inc_lines" ->
      """WITH idx AS (SELECT DISTINCT md5(line) AS h FROM (
             SELECT unnest(string_split(text, chr(10))) AS line
             FROM documents WHERE doc_id % 5 <> 0) q
           WHERE trim(line) <> ''),
         b0 AS (SELECT d.doc_id,
             CASE WHEN n.text IS NOT NULL
                  THEN d.text || chr(10) || n.text ELSE d.text END AS t
           FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
           WHERE d.doc_id % 5 = 0),
         b1 AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0
             THEN t || chr(10) || 'Shared footer line.' ELSE t END AS t FROM b0),
         dec AS (SELECT doc_id, CASE WHEN doc_id % 20 = 0
             THEN t || chr(10) || chr(10) ELSE t END AS t FROM b1),
         l AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls FROM dec),
         o0 AS (SELECT doc_id, unnest(ls) AS line,
             generate_subscripts(ls, 1) AS pos FROM l),
         o2 AS (SELECT doc_id, pos, md5(line) AS h,
             doc_id * 1048576 + pos AS kk FROM o0 WHERE trim(line) <> ''),
         hd AS (SELECT * FROM o2 WHERE h IN (SELECT h FROM idx)),
         fresh AS (SELECT * FROM o2 WHERE h NOT IN (SELECT h FROM idx)),
         own AS (SELECT h, min(kk) AS k0 FROM fresh GROUP BY h),
         bd AS (SELECT f.* FROM fresh f JOIN own USING (h) WHERE f.kk <> own.k0),
         dr AS (SELECT doc_id, list(pos) AS ps,
             sum(CASE WHEN why = 'h' THEN 1 ELSE 0 END) AS nh,
             sum(CASE WHEN why = 'b' THEN 1 ELSE 0 END) AS nb
           FROM (SELECT doc_id, pos, 'h' AS why FROM hd
                 UNION ALL SELECT doc_id, pos, 'b' AS why FROM bd) u
           GROUP BY doc_id),
         fin AS (SELECT l.doc_id, l.t, l.ls, coalesce(dr.ps, []) AS ps,
             coalesce(dr.nh, 0) AS nh, coalesce(dr.nb, 0) AS nb
           FROM l LEFT JOIN dr USING (doc_id))
         SELECT doc_id,
           len(ls)::BIGINT AS n_lines,
           nh::BIGINT AS n_dropped_history,
           nb::BIGINT AS n_dropped_batch,
           CASE WHEN len(ps) = 0 THEN t
                ELSE array_to_string([ls[i+1] for i in range(len(ls))
                                      if NOT list_contains(ps, i+1)], chr(10))
           END AS text_dedup
         FROM fin""",
    "dd_ngram_jaccard" -> OracleGen.ngramJaccard(NgramMaxDf, 0.3),
    "dd_minhash_lsh" -> OracleGen.minhashLsh(16, 8, 0.3),
    "dd_inc_minhash" -> OracleGen.incrementalMinhash(16, 8, 0.3, mod = 5),
    // compaction must be invisible: the compacted-chain query answers to
    // the SAME oracle as the chained one
    "dd_compact_minhash" -> OracleGen.incrementalMinhash(16, 8, 0.3, mod = 5),
    // a JSONL export/import cycle must be the identity on the source rows
    "pl_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    "tx_gopher" ->
      """WITH dec AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN text || chr(10) || '• bullet one'
                  || chr(10) || '• bullet two' || chr(10) || '- dash bullet'
                  || chr(10) || 'real closing line.'
                WHEN doc_id % 4 = 1 THEN text || chr(10) || 'trailing thought...'
                  || chr(10) || 'another one…'
                WHEN doc_id % 4 = 2 THEN text || ' ## #hashtag #…'
                ELSE text END AS t
           FROM documents),
         base AS (SELECT doc_id, t,
             [w for w in regexp_split_to_array(t, '\s+') if w <> ''] ts,
             [w for w in regexp_split_to_array(lower(t), '\s+') if w <> ''] tl,
             regexp_split_to_array(t, '\r?\n') ls
           FROM dec),
         m AS (SELECT doc_id, t, ts, ls,
             len(ts) n,
             CASE WHEN len(ts) > 0 THEN
               list_sum(list_transform(ts, w -> length(w)))::DOUBLE / len(ts)::DOUBLE END mean_len,
             CASE WHEN len(ts) > 0 THEN
               (length(t) - length(regexp_replace(t, '[#…]', '', 'g')))::DOUBLE / len(ts)::DOUBLE END sym,
             len([l for l in ls if starts_with(trim(l), '•') OR starts_with(trim(l), '- ')])::DOUBLE
               / greatest(len(ls), 1)::DOUBLE bullet,
             len([l for l in ls if trim(l) LIKE '%…' OR trim(l) LIKE '%...'])::DOUBLE
               / greatest(len(ls), 1)::DOUBLE ell,
             CASE WHEN len(ts) > 0 THEN
               len([w for w in ts if regexp_matches(w, '[A-Za-z]')])::DOUBLE / len(ts)::DOUBLE END alpha,
             len([w for w in ['the','be','to','of','and','that','have','with']
                  if list_contains(tl, w)])::BIGINT stops
           FROM base)
         SELECT doc_id,
           n::BIGINT AS n_words, mean_len AS mean_word_len,
           sym AS symbol_ratio, bullet AS bullet_line_frac,
           ell AS ellipsis_line_frac, alpha AS alpha_word_frac,
           stops AS n_stop_hits,
           coalesce(n >= 50 AND n <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
             AND sym <= 0.1 AND bullet <= 0.1 AND ell <= 0.3
             AND alpha >= 0.8 AND stops >= 2, false) AS passes
         FROM m""",
    "dd_simhash" -> OracleGen.simhash(3),
    "dd_simhash_wide" -> OracleGen.simhash(3, bits = 60),
    "dd_simhash_hist" ->
      s"SELECT hamming, count(*) AS n_pairs FROM (${OracleGen.simhash(3)}) GROUP BY 1",
    "dd_embedding_cosine" ->
      OracleGen.embeddingCosineLsh(0.45, dim = 64, tables = 8, planes = 6),
    "dd_clusters" -> OracleGen.dupClusters(OracleGen.minhashLsh(16, 8, 0.3)),
    "pl_dedup_corpus" -> OracleGen.dedupCorpus(OracleGen.minhashLsh(16, 8, 0.3)),
    "ann_lsh_topk" -> OracleGen.annLsh(tables = 8, planes = 10, dim = 64, k = 10),
    "ann_ivf_topk" -> OracleGen.annIvf(nCentroids = 16, nprobe = 4, k = 10),
    // a persisted IVF index must answer exactly like the inline build
    "ann_ivf_persisted" -> OracleGen.annIvf(nCentroids = 16, nprobe = 4, k = 10),
    "ann_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
         s AS (SELECT vec_id, e,
             list_reduce([0.0] || list_transform(e, x -> abs(x)),
               (acc, x) -> greatest(acc, x)) / 127.0 AS scale
           FROM v),
         qq AS (SELECT vec_id, e, scale,
             CASE WHEN scale = 0.0 THEN list_transform(e, x -> 0::BIGINT)
                  ELSE list_transform(e, x -> floor(x / scale + 0.5)::BIGINT) END AS q
           FROM s)
         SELECT vec_id, scale,
           len(q)::BIGINT AS dim,
           list_sum(q)::BIGINT AS q_sum,
           list_sum(list_transform(q, x -> abs(x)))::BIGINT AS q_l1,
           list_reduce([0.0] ||
             [ (e[i] - q[i] * scale) * (e[i] - q[i] * scale)
               for i in range(1, len(e)+1) ],
             (acc, x) -> acc + x) AS err2
         FROM qq""",
    "ann_brute_topk" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
         q AS (SELECT * FROM v WHERE vec_id < 5),
         scored AS (SELECT q.vec_id qid, v.vec_id nid,
             list_dot_product(v.e, q.e) / (sqrt(list_dot_product(v.e,v.e)) * sqrt(list_dot_product(q.e,q.e))) c
           FROM v CROSS JOIN q WHERE v.vec_id != q.vec_id)
         SELECT qid, rank, nid FROM (
           SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid DESC) rank
           FROM scored) t WHERE rank <= 10""",
    // two-stage: quantized-cosine top-25 (integer dot/norms), exact
    // cosine re-rank to top-10 — replays the Spark plan stage for stage
    "ann_quantized_rerank" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e FROM embeddings),
         s AS (SELECT vec_id, e,
             list_reduce([0.0] || list_transform(e, x -> abs(x)),
               (acc, x) -> greatest(acc, x)) / 127.0 AS scale
           FROM v),
         qq AS (SELECT vec_id, e,
             CASE WHEN scale = 0.0 THEN list_transform(e, x -> 0::BIGINT)
                  ELSE list_transform(e, x -> floor(x / scale + 0.5)::BIGINT) END AS q
           FROM s),
         qn AS (SELECT vec_id, e, q,
             list_sum(list_transform(q, x -> x * x))::BIGINT n2
           FROM qq),
         qry AS (SELECT * FROM qn WHERE vec_id < 5),
         approx AS (SELECT r.vec_id qid, c.vec_id nid,
             list_dot_product(c.q::DOUBLE[], r.q::DOUBLE[]) / (sqrt(c.n2) * sqrt(r.n2)) cq
           FROM qn c CROSS JOIN qry r WHERE c.vec_id != r.vec_id),
         surv AS (SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cq DESC, nid DESC) rn
             FROM approx) z WHERE rn <= 25),
         exact AS (SELECT qid, nid,
             list_dot_product(cv.e, qv.e) / (sqrt(list_dot_product(cv.e, cv.e)) * sqrt(list_dot_product(qv.e, qv.e))) c
           FROM surv JOIN v cv ON nid = cv.vec_id JOIN v qv ON qid = qv.vec_id)
         SELECT qid, rank, nid, cosine FROM (
           SELECT qid, nid, c cosine,
             row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid DESC) rank
           FROM exact) t WHERE rank <= 10""",
    // generated, not hand-written: the CTE chain must track the Spark
    // parameters (k, iters, shifts) or the oracle silently tests nothing
    "pl_kmeans" ->
      KMeans.oracleSql("embeddings", "vec_id", "embedding", k = 8, iters = 3),
    "dd_semantic" ->
      SemDeDup.semanticOracleSql("embeddings", "vec_id", "embedding",
        k = 8, iters = 3, tauSq = 6500L),
    "pl_cluster_sample" ->
      SemDeDup.clusterSampleOracleSql("embeddings", "vec_id", "embedding",
        k = 8, iters = 3, n = 5),
    "pl_prototype_prune" ->
      SemDeDup.prototypePruneOracleSql("embeddings", "vec_id", "embedding",
        k = 8, iters = 3, keepNum = 3, keepDen = 10),
    "dd_inc_semantic" ->
      SemDeDup.incrementalOracleSql("embeddings", "vec_id", "embedding",
        histPred = "vec_id % 5 <> 0", k = 8, iters = 3, tauSq = 5000L),
    "pl_cluster_report" ->
      SemDeDup.clusterReportOracleSql("embeddings", "vec_id", "embedding",
        k = 8, iters = 3),
    "pl_curation_e2e" ->
      SemDeDup.curateOracleSql("embeddings", "vec_id", "embedding",
        k = 8, iters = 3, tauSq = 6500L, keepNum = 3, keepDen = 4, n = 5),
    "pl_kmeans2" ->
      KMeans.oracleSqlTwoLevel("embeddings", "vec_id", "embedding",
        k1 = 4, iters1 = 2, k2 = 3, iters2 = 2),
    "dd_semantic_2level" ->
      SemDeDup.semanticHierarchicalOracleSql("embeddings", "vec_id",
        "embedding", k1 = 4, iters1 = 2, k2 = 3, iters2 = 2, tauSq = 6500L),
    "pl_nb_lang" -> ModelOracle.naiveBayes(mod = 2),
    // the persisted-model twin must be indistinguishable from the
    // one-plan path - same oracle, by design
    "pl_nb_persisted" -> ModelOracle.naiveBayes(mod = 2),
    "pl_lm_backoff" -> ModelOracle.stupidBackoff(mod = 2),
    "pl_dsir" -> ModelOracle.dsir("en", buckets = 2048, k = 150),
    "pl_filter_e2e" ->
      raw"""WITH lm AS (${ModelOracle.stupidBackoff(mod = 2)}),
           scored AS (SELECT doc_id, n_tokens, n_oov,
               logscore_fp::DOUBLE / greatest(n_tokens - n_oov, 1)::DOUBLE avg_s
             FROM lm),
           th AS (SELECT quantile_cont(avg_s, 1.0/3) t1,
               quantile_cont(avg_s, 2.0/3) t2 FROM scored)
           SELECT doc_id, n_tokens, n_oov, avg_s,
             CASE WHEN avg_s >= t2 THEN 'head'
                  WHEN avg_s >= t1 THEN 'middle' ELSE 'tail' END bucket,
             avg_s >= t1 kept
           FROM scored CROSS JOIN th""",
    "rt_bm25" -> RetrievalOracle.bm25(Bm25Queries, k = 10),
    // persisted-index and incremental-index paths must be
    // indistinguishable from index-at-once - same oracle, by design
    "rt_bm25_persisted" -> RetrievalOracle.bm25(Bm25Queries, k = 10),
    "rt_bm25_inc" -> RetrievalOracle.bm25(Bm25Queries, k = 10),
    "rt_hybrid_rrf" -> RetrievalOracle.hybridRrf(nq = 3, k = 10),
    "rt_eval_labels" -> RetrievalOracle.labelEval(nq = 8, k = 10),
    "rt_eval_hybrid" -> RetrievalOracle.hybridEval(nq = 3, k = 10),
    "ann_pq" -> OracleGen.annPq(dim = 64, m = 8, ksub = 16, iters = 2, k = 10),
    // the persisted-store path must be indistinguishable - same oracle
    "ann_pq_persisted" ->
      OracleGen.annPq(dim = 64, m = 8, ksub = 16, iters = 2, k = 10),
    "ann_ivfpq" -> OracleGen.annIvfPq(dim = 64, m = 8, ksub = 16,
      iters = 2, nlist = 16, nprobe = 4, k = 10),
    "ann_pq_recall" ->
      OracleGen.annPqRecall(dim = 64, m = 8, ksub = 16, iters = 2, k = 10),
    "pl_bpe_roundtrip" ->
      raw"""WITH n AS (SELECT doc_id,
           [t for t in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if t <> ''] ts
           FROM documents)
           SELECT doc_id, len(ts)::BIGINT n_tokens, array_to_string(ts, ' ') decoded FROM n""",
    // unigram shares the reconstruction-gate shape: Viterbi pieces must
    // concatenate back to the exact normalized text, corpus-wide
    "pl_unigram_roundtrip" ->
      raw"""WITH n AS (SELECT doc_id,
           [t for t in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if t <> ''] ts
           FROM documents)
           SELECT doc_id, len(ts)::BIGINT n_tokens, array_to_string(ts, ' ') decoded FROM n""",
    "pl_unigram_persisted" ->
      raw"""WITH n AS (SELECT doc_id,
           [t for t in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if t <> ''] ts
           FROM documents)
           SELECT doc_id, len(ts)::BIGINT n_tokens, array_to_string(ts, ' ') decoded FROM n""",
    // wordpiece: greedy longest-match must reconstruct every document
    // exactly (no [UNK] when training saw the corpus's codepoints)
    "pl_wordpiece_roundtrip" ->
      raw"""WITH n AS (SELECT doc_id,
           [t for t in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if t <> ''] ts
           FROM documents)
           SELECT doc_id, len(ts)::BIGINT n_tokens, array_to_string(ts, ' ') decoded FROM n""",
    "pl_wordpiece_persisted" ->
      raw"""WITH n AS (SELECT doc_id,
           [t for t in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if t <> ''] ts
           FROM documents)
           SELECT doc_id, len(ts)::BIGINT n_tokens, array_to_string(ts, ' ') decoded FROM n""",
    // the persisted-model twin shares the roundtrip oracle: snapshot
    // round-trip of the merge table must be provably invisible
    "pl_bpe_persisted" ->
      raw"""WITH n AS (SELECT doc_id,
           [t for t in string_split(lower(trim(regexp_replace(text,'\s+',' '))),' ') if t <> ''] ts
           FROM documents)
           SELECT doc_id, len(ts)::BIGINT n_tokens, array_to_string(ts, ' ') decoded FROM n""",
    // byte-fallback: models trained on the even half must still
    // reconstruct EVERY document exactly — including the appended
    // hostile suffix (unseen codepoints, astral plane, and the literal
    // '<0x41>' collision probe) — through the byte-token decomposition
    "pl_byte_fallback" ->
      raw"""WITH h AS (SELECT doc_id,
           text || ' ' || list_extract(
             ['☀☂','⚡❄','<0x41>','🜁','🝳','≠÷','ᚠᚢᚦ','☃'],
             (doc_id % 8) + 1) AS t
           FROM documents),
           n AS (SELECT doc_id,
           [t2 for t2 in string_split(lower(trim(regexp_replace(t,'\s+',' '))),' ') if t2 <> ''] ts
           FROM h)
           SELECT doc_id, len(ts)::BIGINT n_tokens,
                  array_to_string(ts, ' ') AS bpe_dec,
                  array_to_string(ts, ' ') AS uni_dec,
                  array_to_string(ts, ' ') AS wp_dec
           FROM n""",
    // the persisted twin shares the oracle: the snapshot round-trip of
    // all three fallback vocabularies (byte tokens, alphabet rows, the
    // fallback marker) must be provably invisible
    "pl_byte_fallback_persisted" ->
      raw"""WITH h AS (SELECT doc_id,
           text || ' ' || list_extract(
             ['☀☂','⚡❄','<0x41>','🜁','🝳','≠÷','ᚠᚢᚦ','☃'],
             (doc_id % 8) + 1) AS t
           FROM documents),
           n AS (SELECT doc_id,
           [t2 for t2 in string_split(lower(trim(regexp_replace(t,'\s+',' '))),' ') if t2 <> ''] ts
           FROM h)
           SELECT doc_id, len(ts)::BIGINT n_tokens,
                  array_to_string(ts, ' ') AS bpe_dec,
                  array_to_string(ts, ' ') AS uni_dec,
                  array_to_string(ts, ' ') AS wp_dec
           FROM n""",
  )
}
