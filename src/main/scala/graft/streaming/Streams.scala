package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.core.{ArtifactFormats, Cached, SnapshotStore}
import graft.jobs.Urd

/** Structured Streaming surface.
  *
  * The reference has no streaming engine — its incremental idiom is the
  * dataset chain driven by urd (SURVEY §2.5: "chain+previous+urd-timeline
  * is its batch-incremental substitute"). Here both directions of that
  * equivalence are implemented:
  *
  *  - classic streaming: `readStream` file source → watermarked windowed
  *    aggregation / custom session state → any sink;
  *  - `chainSink`: every micro-batch lands as a SNAPSHOT chained to the
  *    previous one and recorded on the urd timeline — a streaming query
  *    whose output is, at rest, exactly the reference's daily-append
  *    chain, so every batch operator (iterateChain, range skip, checksum,
  *    dedup…) works on the stream's history.
  *
  * Every chain sink (`chainSink` and the eleven `…Sink`s beside it) runs
  * through one private `chainedBatch` skeleton and supplies only its
  * per-batch transform. The skeleton writes each output against its
  * prefix's COMMITTED tip and advances the tips only after every write of
  * the batch has landed, so a crash between two writes (or between the
  * writes and the checkpoint commit) replays the whole batch against the
  * same tips and re-lands the same snapshots. Frames a transform caches
  * in the batch's [[graft.core.Cached]] scope are released once the
  * writes end, whether they succeeded or threw.
  *
  * Scale notes: file-source streaming tracks seen files in the checkpoint
  * (maxFilesPerTrigger bounds batch size); watermarks bound state; the
  * session state store is per-key (user) and times out — all standard
  * Spark mechanics that survive a 1000-executor deployment unchanged.
  */
object Streams {

  /** File-source stream over an events directory (schema taken from the
    * existing files — the streaming reader needs it declared).
    */
  def eventStream(spark: SparkSession, dir: String,
                  maxFilesPerTrigger: Int = 1): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
  }

  /** Watermarked sliding-window counts per event type: the canonical
    * "stream aggregation with bounded state" shape. Late events beyond
    * the watermark are dropped; closed windows are emitted once
    * (append mode) or updated continuously (update mode).
    */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "10 minutes",
                     slide: String = "5 minutes",
                     watermark: String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark) // no-op when run on a batch frame
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      // exact decimal sum: order-independent, so the batch run of this
      // exact plan hash-matches the DuckDB oracle (q_events_windowed)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Trending top-k sink: windowed per-item counts (watermark-bounded
    * state, append mode — each window emits exactly once, when the
    * watermark passes it) flow through foreachBatch, where every CLOSED
    * window's counts reduce to its top-`k` items via the bounded-heap
    * [[graft.ops.TopKPerGroup]] and land as chained snapshots. The
    * "what's hot this hour" feed of every event pipeline, with dedup'd
    * state budgeting: the streaming state holds (window, item) counts
    * only inside the watermark horizon; the per-window ranking is batch
    * work on already-final counts, so it costs one k-bounded heap pass
    * per closed window — never a global window function.
    */
  def trendingSink(events: DataFrame, tsCol: String, itemCol: String,
                   store: SnapshotStore, prefix: String, checkpoint: String,
                   windowLen: String = "10 minutes",
                   watermark: String = "15 minutes",
                   k: Int = 3): StreamingQuery = {
    val counts = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(itemCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(itemCol), col("n"))
    chainedBatch(counts, store, checkpoint) { (batch, _, _) =>
      Seq(ChainOut(prefix, graft.ops.TopKPerGroup(batch,
        Seq("window_start", "window_end"), "n", k, Seq(itemCol))))
    }
  }

  /** Incremental heavy-hitters sink: each micro-batch's tokens fold into
    * an O(k)-per-group Misra–Gries summary (ops.TrainingPipeline
    * .heavyHitters), which merges with the previous cumulative summary
    * (mergeHeavyHitters — error bounds add, so the tip stays within
    * n_total/(k+1) of the true counts) and lands as a snapshot chained to
    * it. Read the chain TIP for "top tokens so far"; the chain itself is
    * the summary's history (trending-vocabulary time series), NOT a
    * union-me dataset. Raw token history is never re-read — each batch
    * pays one pass over its own text plus a ≤2k-rows-per-group merge,
    * the same build-once/fold-forward shape as nearDupDedupSink's index.
    */
  def heavyHittersSink(docs: DataFrame, textCol: String, groupCol: String,
                       store: SnapshotStore, prefix: String,
                       checkpoint: String, k: Int = 32): StreamingQuery =
    chainedBatch(docs, store, checkpoint) { (batch, prev, _) =>
      val batchSummary = graft.ops.TrainingPipeline
        .heavyHitters(batch, textCol, groupCol, k)
      val merged = prev(prefix) match {
        case Some(p) => graft.ops.TrainingPipeline.mergeHeavyHitters(
          store.readArtifact(p, ArtifactFormats.TokenSketch)
            .select(col(groupCol), col("token"), col("est")),
          batchSummary, groupCol, k)
        case None => batchSummary
      }
      Seq(ChainOut(prefix, merged,
        formatVersion = Some(ArtifactFormats.TokenSketch)))
    }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, events: Int, total: Double)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int, total_value: Double)

  /** Sessionization with custom state (flatMapGroupsWithState): events of
    * one user belong to a session until `gapMs` of inactivity; a closed
    * session is emitted exactly once — arbitrary per-key state with
    * explicit lifecycle.
    *
    * @param idleFlush with true (production), a processing-time timeout
    *   flushes sessions whose users went silent — at the cost of the
    *   query triggering continuously to check timeouts. With false,
    *   sessions only close when the user's NEXT event arrives
    *   (deterministic; what the tests use).
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
                 idleFlush: Boolean = true): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val timeout =
      if (idleFlush) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeout) {
        case (user, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.events, s.total))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, events = s.events + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(user, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.events, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (idleFlush) state.setTimeoutDuration(gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming exact dedup: drop rows whose content fingerprint was
    * already seen within the watermark horizon
    * (dropDuplicatesWithinWatermark — state is EVICTED as the watermark
    * advances, unlike plain dropDuplicates whose key state grows forever;
    * the only way a streaming dedup survives an unbounded corpus). The
    * fingerprint is the same 60-bit md5 content hash the batch dedup
    * family uses (TextFunctions.fingerprint), so stream and batch agree
    * on document identity.
    */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
                  watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Stream-stream join within an event-time bound — the
    * impressions⋈clicks attribution shape: a right-side row matches a
    * left-side row with the same key when it arrives in
    * [leftTs, leftTs + within]. BOTH sides carry a watermark and the join
    * condition bounds the event-time gap, which is what lets Spark evict
    * buffered rows as the watermarks advance — an unbounded stream-stream
    * join would otherwise hold both streams in state forever. Column names
    * must be disjoint across the two frames (standard Spark join-ambiguity
    * rule; callers rename before joining).
    *
    * @param joinType "inner" (default) emits matched pairs only;
    *   "leftOuter" additionally emits each unmatched left row with null
    *   right columns — but only once the watermark proves no in-bound
    *   match can still arrive, so outer results trail the data by the
    *   watermark delay (the "unconverted impressions" half of
    *   attribution).
    *
    * Runs unchanged on batch frames (withWatermark is a no-op there), so
    * the same plan is testable against a batch equivalence.
    */
  def joinWithin(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 leftTs: String, rightTs: String,
                 within: String, watermark: String,
                 joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"),
        joinType)

  /** Streaming NEAR-dup dedup with a persistent chain index. Structured
    * Streaming has no native near-duplicate operator (dropDuplicates and
    * dropDuplicatesWithinWatermark are exact-key only), so this composes
    * the batch primitives through foreachBatch: each micro-batch is
    * minhash-indexed, deduplicated against the accumulated index CHAIN
    * plus itself ([[graft.ops.Dedup.incrementalMinhash]] — a batch doc
    * drops when it near-dups history or a smaller-id batch doc), the
    * survivors land chained under `outPrefix`, and the batch's index lands
    * chained under `indexPrefix`.
    *
    * Dedup state is therefore ordinary snapshots — restart-safe,
    * shell-inspectable, shared with batch jobs — instead of opaque
    * state-store files, and each batch pays O(batch) signature work
    * regardless of history size. The trade against watermark dedup: state
    * is NOT evicted (near-dup identity has no time horizon); at 100 TB
    * the index chain is (id, hs, sig) rows — a constant-factor sketch of
    * the corpus, not the corpus.
    */
  def nearDupDedupSink(docs: DataFrame, idCol: String, textCol: String,
                       store: SnapshotStore, indexPrefix: String,
                       outPrefix: String, checkpoint: String,
                       n: Int = 3, k: Int = 16, bands: Int = 8,
                       threshold: Double = 0.8,
                       compactEvery: Option[Int] = None): StreamingQuery =
    chainedBatch(docs, store, checkpoint, compactEvery) { (batch, prev, c) =>
      val batchIdx = c(graft.ops.Dedup.minhashIndex(batch, idCol, textCol, n, k))
      val history = prev(indexPrefix) match {
        case Some(tip) =>
          store.requireArtifactFormat(tip, ArtifactFormats.MinhashIndex)
          val chain = store.iterateChain(tip)
          // keep the n/k parameter columns when the stored index has
          // them — incrementalMinhash cross-validates the banding
          // scheme from exactly these
          val keep = Seq("id", "hs", "sig") ++
            Seq("n", "k").filter(chain.columns.contains)
          chain.select(keep.map(col): _*)
        case None => batchIdx.limit(0)
      }
      val pairs = graft.ops.Dedup
        .incrementalMinhash(batchIdx, history, k, bands, threshold)
      // classify by id_b: batch and history id spaces are disjoint, so
      // id_b ∈ batch ⇒ within-batch pair (drop the larger side, id_b);
      // id_b ∉ batch ⇒ history pair (drop the batch side, id_a)
      val batchIds = batchIdx.select(col("id"))
      val dropWithin = pairs
        .join(batchIds.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
        .select(col("id_b").as(idCol))
      val dropCross = pairs
        .join(batchIds.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_anti")
        .select(col("id_a").as(idCol))
      val survivors = batch.join(
        dropWithin.unionByName(dropCross).distinct(), Seq(idCol), "left_anti")
      Seq(ChainOut(outPrefix, survivors),
        ChainOut(indexPrefix, batchIdx,
          formatVersion = Some(ArtifactFormats.MinhashIndex), compact = true))
    }

  /** Streaming corpus-wide LINE dedup with a persistent chain index — the
    * stream twin of [[graft.ops.Dedup.incrementalLineDedup]], following
    * [[nearDupDedupSink]]'s shape: each micro-batch drops every non-blank
    * line already hashed into the accumulated index chain, dedupes the
    * survivors within the batch by first (id, pos) occurrence, lands the
    * reassembled documents chained under `outPrefix`
    * (idCol, n_lines, n_dropped_history, n_dropped_batch, text_dedup),
    * and appends the KEPT lines' hashes — the new owners — chained under
    * `indexPrefix`.
    *
    * State is ordinary snapshots of 16-byte line hashes: restart-safe (a
    * replayed batch re-dedups against the committed tip, never its own
    * partial output — ChainTip), shell-inspectable, and O(distinct lines)
    * regardless of how often boilerplate repeats. As with near-dup, index
    * state is never evicted — a line seen once is boilerplate forever.
    */
  def lineDedupSink(docs: DataFrame, idCol: String, textCol: String,
                    store: SnapshotStore, indexPrefix: String,
                    outPrefix: String, checkpoint: String,
                    compactEvery: Option[Int] = None): StreamingQuery =
    chainedBatch(docs, store, checkpoint, compactEvery) { (batch, prev, c) =>
      val history = prev(indexPrefix) match {
        case Some(tip) =>
          store.requireArtifactFormat(tip, ArtifactFormats.LineIndex)
          store.iterateChain(tip).select(col("h"))
        case None => graft.ops.Dedup.lineIndex(batch.limit(0), textCol)
      }
      val cleaned = c(graft.ops.Dedup
        .incrementalLineDedup(batch, history, idCol, textCol))
      // the kept lines are exactly the batch's fresh owners: they are
      // the full delta the NEXT ingest must probe against
      val newIdx = graft.ops.Dedup.lineIndex(
        cleaned.select(col("text_dedup").as(textCol)), textCol)
      Seq(ChainOut(outPrefix, cleaned),
        ChainOut(indexPrefix, newIdx,
          formatVersion = Some(ArtifactFormats.LineIndex), compact = true))
    }

  /** Streaming SEMANTIC dedup against a frozen centroid matrix and a
    * persistent chain index — the stream twin of
    * [[graft.ops.SemDeDup.incremental]], following [[lineDedupSink]]'s
    * shape. `mus` is a [[graft.ops.KMeans.fit]] fitted OFFLINE (freezing
    * it is what keeps the accumulated index valid); each micro-batch of
    * embeddings assigns to it in one scan, drops rows with a same-cluster
    * index neighbor within `tauSq` or a higher-priority batch neighbor,
    * lands survivors under `outPrefix`, and appends the SURVIVORS'
    * assignments — (id, cluster, dist, q) — under `indexPrefix`.
    *
    * The index holds kept rows only: semantic dedup defines duplicates
    * against the KEPT corpus (a dropped row's neighborhood is represented
    * by whichever row dropped it), exactly like [[lineDedupSink]]'s
    * owner-lines index — and unlike [[nearDupDedupSink]], whose sketch
    * index deliberately accumulates every doc. At 100 TB the index is
    * (id, 2 longs, dim longs) per KEPT row — the deduped corpus's
    * semantic footprint, not the corpus.
    */
  def semanticDedupSink(embs: DataFrame, idCol: String, vecCol: String,
                        mus: Array[Array[Long]], store: SnapshotStore,
                        indexPrefix: String, outPrefix: String,
                        checkpoint: String, tauSq: Long,
                        quantShift: Int = 6, fpShift: Int = 10,
                        compactEvery: Option[Int] = None): StreamingQuery =
    chainedBatch(embs, store, checkpoint, compactEvery) { (batch, prev, c) =>
      val ab = c(graft.ops.KMeans
        .assignTo(batch, idCol, vecCol, mus, quantShift, fpShift))
      val history = prev(indexPrefix) match {
        case Some(tip) =>
          store.requireArtifactFormat(tip, ArtifactFormats.SemanticIndex)
          store.iterateChain(tip).select(col("cluster"), col("q"))
        case None => ab.select(col("cluster"), col("q")).limit(0)
      }
      val keptIds = graft.ops.SemDeDup
        .incrementalAssigned(ab, history, idCol, tauSq)
        .filter(col("kept"))
        .select(col(idCol))
      val survivors = batch.join(keptIds, Seq(idCol), "left_semi")
      val keptIdx = ab.join(keptIds, Seq(idCol), "left_semi")
      Seq(ChainOut(outPrefix, survivors),
        ChainOut(indexPrefix, keptIdx,
          formatVersion = Some(ArtifactFormats.SemanticIndex), compact = true))
    }

  /** Streaming quality annotation — the ingest-time gate of a training
    * pipeline: each micro-batch of documents lands as a chained snapshot
    * of (id, n_cp, ent_char_fp, n_tok, ent_tok_fp, quality) rows —
    * the integer-exact entropy signals (expr/EntropyFp) plus the
    * composite quality score, all scan-side codegen. Stateless per row
    * (like [[nbScoreSink]]'s frozen model), so per-batch output is
    * byte-identical to batch annotation and the chain replays under the
    * tx_entropy discipline.
    */
  def qualityAnnotateSink(docs: DataFrame, idCol: String, textCol: String,
                          store: SnapshotStore, prefix: String,
                          checkpoint: String): StreamingQuery = {
    import graft.functions.{TextFunctions => T}
    chainedBatch(docs, store, checkpoint) { (batch, _, _) =>
      val ce = T.charEntropyFp(col(textCol))
      val te = T.tokenEntropyFp(col(textCol))
      Seq(ChainOut(prefix, batch.select(col(idCol),
        ce.getField("n").as("n_cp"),
        ce.getField("ent_fp").as("ent_char_fp"),
        te.getField("n").as("n_tok"),
        te.getField("ent_fp").as("ent_tok_fp"),
        T.qualityScore(col(textCol)).as("quality"))))
    }
  }

  /** Multimodal ingest annotation — the media twin of
    * [[qualityAnnotateSink]]: each micro-batch of (id, blob) rows is
    * annotated with its detected media type, REAL decode statistics
    * (PNG at every depth incl.
    * sub-byte, baseline/progressive/ARITHMETIC-SOF9+SOF10/lossless-
    * SOF3/12-bit-SOF1 JPEG at full precision, MJPEG-AVI video via
    * every-2nd-frame decode, GIF
    * animations via the full compositing walk — width/height, frame
    * count and composited px_sum land through the shared columns —
    * and WAV audio across the whole envelope: integer PCM, G.711,
    * float32/float64, extensible, IMA- and Microsoft-ADPCM, with
    * pcm_bits landing the storage depth; the same codegen'd expressions the batch scans use,
    * null columns for the formats a blob isn't), and the
    * full-md5 content-dedup key, then landed as a snapshot chained to the
    * previous batch. Everything is scan-side per-row work: the blobs
    * never shuffle, and the landed chain carries only ids + metadata —
    * at ingest scale the chain is what downstream dedup/gating reads
    * instead of re-decoding the corpus. `compactEvery` applies the same
    * periodic chain-fold as the dedup sinks: a blob-heavy ingest runs for
    * thousands of micro-batches, and whoever tails the annotation chain
    * (dedup, gating, the shell) must read O(compactEvery) snapshots at
    * the tip, not O(batches).
    */
  def mediaAnnotateSink(docs: DataFrame, idCol: String, binCol: String,
                        store: SnapshotStore, prefix: String,
                        checkpoint: String,
                        compactEvery: Option[Int] = None): StreamingQuery = {
    import graft.ops.Multimodal
    chainedBatch(docs, store, checkpoint, compactEvery) { (batch, _, _) =>
      val img = Multimodal.decodeImage(col(binCol))
      val jpg = Multimodal.decodeJpeg(col(binCol))
      val jls = Multimodal.jpegLosslessFeatures(col(binCol))
      val j12 = Multimodal.jpeg12Features(col(binCol))
      val vid = Multimodal.videoFrameStats(col(binCol), 2)
      val vm = Multimodal.videoMeta(col(binCol))
      val wav = Multimodal.audioFeatures(col(binCol))
      val gs = Multimodal.gifAnimStats(col(binCol))
      // composited GIF totals fold over the per-frame stats array —
      // still scan-side column work, no UDF
      val gifPx = aggregate(gs.getField("frames"), lit(0L),
        (acc, f) => acc + f.getField("px_sum"))
      val annotated = batch.select(col(idCol),
        Multimodal.mediaType(col(binCol)).as("media_type"),
        coalesce(img.getField("width"), jpg.getField("width"),
          jls.getField("width"), j12.getField("width"),
          vm.getField("width"), gs.getField("width"))
          .cast("long").as("width"),
        coalesce(img.getField("height"), jpg.getField("height"),
          jls.getField("height"), j12.getField("height"),
          vm.getField("height"), gs.getField("height"))
          .cast("long").as("height"),
        coalesce(img.getField("px_sum"), jpg.getField("px_sum"),
          jls.getField("px_sum"), j12.getField("px_sum"),
          vid.getField("px_sum"), gifPx).as("px_sum"),
        coalesce(vm.getField("n_frames").cast("long"),
          size(gs.getField("frames")).cast("long")).as("n_frames"),
        wav.getField("n_samples").as("n_samples"),
        wav.getField("pcm_sum").as("pcm_sum"),
        wav.getField("pcm_bits").cast("long").as("pcm_bits"),
        md5(col(binCol)).as("content_md5"))
      Seq(ChainOut(prefix, annotated, compact = true))
    }
  }

  /** Streaming NB classification against a FROZEN model — the stream twin
    * of [[graft.ops.ModelFilter.naiveBayes]], same frozen-artifact
    * contract as [[semanticDedupSink]]'s centroids: `cnt`/`classes` are
    * [[graft.ops.ModelFilter.naiveBayesModel]] tables fitted OFFLINE
    * (typically read back from the persisted snapshots the pl_nb_persisted
    * job writes). Each micro-batch scores in one
    * [[graft.ops.ModelFilter.naiveBayesScoreFrozen]] pass and lands
    * predictions as chained snapshots — per-batch output is byte-identical
    * to batch scoring of the same rows because the model is frozen and
    * scoring is per-document (no cross-batch state, hence no index chain:
    * this sink is the stateless end of the streaming-family spectrum).
    */
  def nbScoreSink(docs: DataFrame, idCol: String, textCol: String,
                  labelCol: String, cnt: DataFrame, classes: DataFrame,
                  store: SnapshotStore, prefix: String,
                  checkpoint: String): StreamingQuery =
    chainedBatch(docs, store, checkpoint) { (batch, _, _) =>
      Seq(ChainOut(prefix, graft.ops.ModelFilter.naiveBayesScoreFrozen(
        batch, idCol, textCol, labelCol, cnt, classes)))
    }

  /** Streaming PQ encoding against FROZEN codebooks — the ingest path of
    * a growing compressed embedding store: each micro-batch of vectors
    * encodes in one [[graft.ops.Pq.encode]] scan (m codegen'd subspace
    * assignments) and lands as a chained snapshot of (nid, codes) rows.
    * The chain IS the code store [[graft.ops.Pq.searchEncoded]] reads, so
    * the store grows per-batch while queries keep paying m lookups per
    * row. Stateless per row (codebooks frozen, like [[nbScoreSink]]'s
    * model), so per-batch output is byte-identical to batch encoding.
    */
  def pqEncodeSink(vecs: DataFrame, idCol: String, vecCol: String,
                   books: Array[Array[Array[Long]]], store: SnapshotStore,
                   prefix: String, checkpoint: String,
                   quantShift: Int = 6, fpShift: Int = 10): StreamingQuery =
    chainedBatch(vecs, store, checkpoint) { (batch, _, _) =>
      Seq(ChainOut(prefix, graft.ops.Pq.encode(batch, idCol, vecCol, books,
        quantShift, fpShift)))
    }

  /** Streaming tokenizer encoding against a FROZEN model — the ingest
    * path of a training-data tokenization pipeline, completing the
    * persisted-model story end-to-end (train once, snapshot the model,
    * encode every future batch from the loaded snapshot): each
    * micro-batch encodes in one scan of the frozen model's codegen'd
    * encoder — the caller passes the pieces-column builder, so one sink
    * serves BPE, unigram and WordPiece alike — and lands
    * (id, n_tokens, n_pieces, pieces_fp) as a chained snapshot, where
    * `pieces_fp` is a 64-bit fingerprint of the exact nested piece
    * sequence: encode identity is pinned per document without landing
    * the corpus text in the chain. Stateless per row (model frozen, like
    * [[nbScoreSink]]), so per-batch output is byte-identical to batch
    * encoding and the crash-replay law holds.
    */
  def tokenizerEncodeSink(docs: DataFrame, idCol: String, textCol: String,
                          pieces: Column => Column, store: SnapshotStore,
                          prefix: String,
                          checkpoint: String): StreamingQuery =
    chainedBatch(docs, store, checkpoint) { (batch, _, _) =>
      Seq(ChainOut(prefix, batch
        .select(col(idCol), pieces(col(textCol)).as("ps"))
        .select(col(idCol),
          size(col("ps")).cast("long").as("n_tokens"),
          size(flatten(col("ps"))).cast("long").as("n_pieces"),
          xxhash64(to_json(col("ps"))).as("pieces_fp"))))
    }

  /** Streaming BM25 index ingestion — the stream twin of
    * [[graft.ops.Bm25.index]]: each micro-batch of documents is indexed
    * IN ISOLATION (its own postings, per-batch dictionary counts,
    * per-batch corpus stats) and appended as three chained snapshots
    * (`<prefix>-post/-dict/-stats`). This works because every index
    * component is a sum-mergeable sketch of its batch: postings
    * concatenate (doc ids are disjoint across batches), document
    * frequencies and corpus stats merge by summation — which is exactly
    * the re-aggregation [[graft.ops.Bm25.scoreIndexed]] already performs,
    * so scoring the three chain tips equals batch-indexing all ingested
    * documents at once. History text is never re-read; ingest cost is
    * per-batch, not per-corpus. `compactEvery` folds the chains
    * periodically so consumer reads stay O(1) datasets.
    */
  def bm25IndexSink(docs: DataFrame, idCol: String, textCol: String,
                    store: SnapshotStore, prefix: String,
                    checkpoint: String,
                    compactEvery: Option[Int] = None): StreamingQuery =
    chainedBatch(docs, store, checkpoint, compactEvery) { (batch, _, _) =>
      val (post, dict, stats) = graft.ops.Bm25.index(batch, idCol, textCol)
      Seq(ChainOut(s"$prefix-post", post, hashlabel = Some("h"), slices = 4, compact = true),
        ChainOut(s"$prefix-dict", dict, hashlabel = Some("h"), slices = 4, compact = true),
        ChainOut(s"$prefix-stats", stats, slices = 1, compact = true))
    }

  /** Stream → chain bridge: each micro-batch becomes a snapshot chained to
    * the previous batch's snapshot and logged on the urd timeline. The
    * stream's full history is then a first-class dataset chain.
    */
  def chainSink(stream: DataFrame, store: SnapshotStore, prefix: String,
                urd: Option[(Urd, String)] = None,
                checkpoint: String,
                compactEvery: Option[Int] = None): StreamingQuery =
    chainedBatch(stream, store, checkpoint, compactEvery, urd) { (batch, _, _) =>
      Seq(ChainOut(prefix, batch, compact = true))
    }

  /** One output of a chained micro-batch: `frame` lands as
    * `<prefix>.<batchId>`, chained to the prefix's committed tip, with
    * the given format stamp, hashlabel and slices. `compact` marks the
    * chains `chainedBatch` folds every `compactEvery` batches.
    */
  private final case class ChainOut(prefix: String, frame: DataFrame,
                                    formatVersion: Option[Int] = None,
                                    hashlabel: Option[String] = None,
                                    slices: Int = 0,
                                    compact: Boolean = false)

  /** The foreachBatch skeleton every chain sink runs through. `body` gets
    * the non-empty batch, `prev(prefix)` — the prefix's committed tip,
    * strictly before this batch (see `ChainTip.prevFor`) — and the
    * batch's [[Cached]] scope, whose caches last until this batch's
    * writes end, on success or failure. It returns the batch's outputs, which are written
    * in that order, each against its prefix's committed tip; only after
    * every write has landed do the tips advance. A crash between writes
    * therefore replays the whole batch against the same tips, and the
    * replay re-lands the same names (a rewrite replaces the snapshot).
    *
    * Every `compactEvery` batches the chains marked `compact` fold into
    * one snapshot (`<prefix>.<batchId>-c`, same rows) that becomes the
    * new chain base: without it a chain is O(batches) links of small
    * snapshots, and every history read unions the whole walk.
    *
    * With `urd`, the batch's snapshot names are recorded on the timeline
    * under `key` at timestamp `batchId`. Replay-idempotent: a crashed
    * attempt of THIS batch may have already recorded the entry
    * (foreachBatch side effects land before the checkpoint commit). The
    * replay re-lands the same snapshot names, so the existing entry is
    * already correct — re-adding would trip the timeline's
    * duplicate-timestamp guard and kill the restarted stream.
    */
  private def chainedBatch(stream: DataFrame, store: SnapshotStore,
                           checkpoint: String,
                           compactEvery: Option[Int] = None,
                           urd: Option[(Urd, String)] = None)(
      body: (DataFrame, String => Option[String], Cached) => Seq[ChainOut]
  ): StreamingQuery = {
    compactEvery.foreach(e => require(e >= 1, s"compactEvery must be >= 1, got $e"))
    val tips = scala.collection.mutable.Map.empty[String, ChainTip]
    def tip(prefix: String): ChainTip =
      tips.getOrElseUpdate(prefix, new ChainTip(store, prefix))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val outs = Cached { c =>
            val outs = body(batch, tip(_).prevFor(batchId), c)
            outs.foreach { o =>
              store.write(o.frame, s"${o.prefix}.$batchId",
                previous = tip(o.prefix).prevFor(batchId),
                formatVersion = o.formatVersion, hashlabel = o.hashlabel,
                slices = o.slices)
            }
            outs
          }
          outs.foreach(o => tip(o.prefix).advance(s"${o.prefix}.$batchId"))
          if (compactEvery.exists(e => batchId > 0 && batchId % e == 0))
            outs.filter(_.compact).foreach { o =>
              val cname = s"${o.prefix}.$batchId-c"
              store.compactChain(s"${o.prefix}.$batchId", cname)
              tip(o.prefix).advance(cname)
            }
          urd.foreach { case (u, key) =>
            val ts = f"$batchId%010d"
            if (u.get(key, ts).isEmpty)
              u.add(key, ts, outs.map(o => o.prefix -> s"${o.prefix}.$batchId"))
          }
        }
        ()
      }
      .start()
  }
}

/** Chain-tip tracker for foreachBatch sinks: remembers the previous
  * snapshot name across micro-batches in the sink closure, so steady-state
  * tip lookup is O(1). After a restart the tip is recovered with ONE store
  * listing — not the O(batchId) `exists` probes per batch the naive scan
  * costs, which compounds to O(N²) driver metadata calls over a long-lived
  * stream's life. foreachBatch bodies run sequentially on the driver, so a
  * plain var is safe.
  */
private final class ChainTip(store: SnapshotStore, prefix: String) {
  private[this] var tip: Option[String] = None
  private[this] var recovered = false

  /** Previous snapshot for `batchId` — strictly earlier batch numbers
    * only, so a replayed batch (restart after write, before checkpoint
    * commit) never chains to its own partial output. A compacted tip
    * (`prefix.N-c`, written by the periodic index-merge) supersedes the
    * chain link of the same batch number: it holds those same rows as
    * one snapshot, and appends must build on it.
    */
  def prevFor(batchId: Long): Option[String] = {
    if (!recovered) {
      val pat = (java.util.regex.Pattern.quote(prefix) + "\\.(\\d+)(-c)?").r
      tip = store.list()
        .flatMap {
          case pat(i, c) if i.toLong < batchId => Some((i.toLong, c != null))
          case _ => None
        }
        .maxOption
        .map { case (i, c) => s"$prefix.$i" + (if (c) "-c" else "") }
      recovered = true
    }
    tip
  }

  def advance(name: String): Unit = { tip = Some(name); recovered = true }
}
