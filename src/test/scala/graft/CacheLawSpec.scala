package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.SnapshotStore
import graft.ops._
import graft.streaming.Streams
import TestSpark.{spark, tmpDir}

/** The cache law of `graft.core.Cached`, over every operator that caches.
  *
  * On success the only storage a call leaves behind is the blocks of the
  * frame it returns — unnamed local checkpoint blocks the context cleaner
  * frees once the frame is unreachable — and no Dataset cache (those are
  * the named entries). A call that throws leaves nothing at all.
  */
class CacheLawSpec extends AnyFunSuite {

  private def persisted(): Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.map { case (id, rdd) => id -> rdd.name }.toMap

  /** The storage a returned frame reads: its checkpoint scans. */
  private def behind(df: Dataset[_]): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** An RDD-backed frame, so the optimizer cannot fold the rows into a
    * local relation and evaluate the operators' expressions at planning.
    */
  private def longs(names: String*)(rows: Seq[Long]*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r: _*)), 2),
      StructType(names.map(StructField(_, LongType))))

  private lazy val edges = longs("src", "dst")(
    Seq(1, 2), Seq(2, 3), Seq(3, 1), Seq(3, 4), Seq(4, 5), Seq(5, 3), Seq(2, 1))
  private lazy val nodes = longs("v")(Seq(1), Seq(3), Seq(5))
  private lazy val docs = {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    Seq((1L, base), (2L, base + " extra"), (3L, base + " bonus"),
      (4L, "completely different words with no shared trigrams at all here"),
      (5L, "completely different words with no shared trigrams at all there"))
      .toDF("id", "text")
  }
  private lazy val emb = spark.read
    .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  // a chain of pairs: connected, but not a star after one round
  private lazy val chain = longs("id_a", "id_b")((1L to 8L).map(i => Seq(i, i + 1)): _*)

  private val ok: Seq[(String, () => Any)] = Seq(
    "Graphs.report" -> (() => Graphs.report(edges, "src", "dst")),
    "Graphs.triangleStats" -> (() => Graphs.triangleStats(edges, "src", "dst")),
    "PageRank.ranksIndexed" -> (() =>
      PageRank.ranksIndexed(PageRank.normalizedEdges(edges, "src", "dst"), iters = 3)),
    "PageRank.ranksIndexed checkpointEvery=1" -> (() =>
      PageRank.ranksIndexed(PageRank.normalizedEdges(edges, "src", "dst"), iters = 3,
        checkpointEvery = 1)),
    "LabelProp.propagate" -> (() =>
      LabelProp.propagate(nodes.select(col("v"), (col("v") % 2).as("seed_lbl")),
        edges, iters = 3)),
    "RandomWalks.walksIndexed" -> (() =>
      RandomWalks.walksIndexed(RandomWalks.neighborIndex(edges, "src", "dst"), nodes, 4)),
    "RandomWalks.node2vecIndexed" -> (() =>
      RandomWalks.node2vecIndexed(RandomWalks.neighborIndex(edges, "src", "dst"), nodes,
        4, p = 2, q = 3)),
    "Dedup.ngramJaccard" -> (() => Dedup.ngramJaccard(docs, "id", "text", maxDf = 2,
      threshold = 0.5)),
    "Dedup.minhashLsh" -> (() => Dedup.minhashLsh(docs, "id", "text", threshold = 0.5)),
    "Dedup.incrementalMinhash" -> (() => Dedup.incrementalMinhash(
      Dedup.minhashIndex(docs.filter(col("id") > 2), "id", "text"),
      Dedup.minhashIndex(docs.filter(col("id") <= 2), "id", "text"), threshold = 0.5)),
    "Dedup.dupClusters local" -> (() => Dedup.dupClusters(chain)),
    "Dedup.dupClusters distributed" -> (() =>
      Dedup.dupClusters(chain, localThreshold = 0)),
    "KMeans.assigned" -> (() => KMeans.assigned(emb, "vec_id", "embedding", 4, 2)),
    "KMeans.fit" -> (() => KMeans.fit(emb, "vec_id", "embedding", 4, 2)),
    "KMeans.assignedTwoLevel" -> (() =>
      KMeans.assignedTwoLevel(emb, "vec_id", "embedding", 2, 1, 2, 1)),
    "KMeans.fixedPoint" -> (() => KMeans.fixedPoint(emb, "vec_id", "embedding", 4, 2)),
    "KMeans.fixedPointTwoLevel" -> (() =>
      KMeans.fixedPointTwoLevel(emb, "vec_id", "embedding", 2, 1, 2, 1)),
    "SemDeDup.semantic" -> (() =>
      SemDeDup.semantic(emb, "vec_id", "embedding", 4, 2, tauSq = 4000)),
    "SemDeDup.semanticHierarchical" -> (() => SemDeDup.semanticHierarchical(
      emb, "vec_id", "embedding", 2, 1, 2, 1, tauSq = 4000)),
    "SemDeDup.curate" -> (() => SemDeDup.curate(emb, "vec_id", "embedding", 4, 2,
      tauSq = 4000, keepNum = 1, keepDen = 2, n = 3)),
    "SemDeDup.incremental" -> (() => {
      val hist = emb.filter(col("vec_id") % 4 =!= 0)
      val mus = KMeans.fit(hist, "vec_id", "embedding", 4, 2)
      SemDeDup.incremental(emb.filter(col("vec_id") % 4 === 0),
        KMeans.assignTo(hist, "vec_id", "embedding", mus), mus,
        "vec_id", "embedding", tauSq = 4000)
    }),
    "WordPiece.train" -> (() => WordPiece.train(docs, "text", numMerges = 10)),
    "ModelFilter.dsirWeights" -> (() => ModelFilter.dsirWeights(docs, "id", "text",
      col("id") % 2 === 0, buckets = 64)),
    "TrainingPipeline.packSequences" -> (() => TrainingPipeline.packSequences(
      docs.select(col("id"), length(col("text")).as("len")), "id", "len", "pk", 16)),
    "Streams.lineDedupSink" -> (() => {
      val dir = tmpDir("cachelaw_src")
      docs.coalesce(1).write.mode("append").parquet(dir)
      Streams.lineDedupSink(Streams.eventStream(spark, dir), "id", "text",
        new SnapshotStore(spark, tmpDir("cachelaw_store")), "lidx", "lout",
        checkpoint = tmpDir("cachelaw_ckpt")).awaitTermination(120000)
    }))

  private val throwing: Seq[(String, () => Any)] = Seq(
    "Dedup.dupClusters maxIter=1" -> (() =>
      Dedup.dupClusters(chain, maxIter = 1, localThreshold = 0)),
    "PageRank.ranksIndexed w > maxW" -> (() =>
      PageRank.ranksIndexed(longs("src", "dst", "w", "sw")(
        Seq(1, 2, 1L << 40, 1L << 40), Seq(2, 1, 1, 1)), iters = 2)))

  for ((name, run) <- ok) test(s"$name leaves only the blocks of its result") {
    val before = persisted()
    val out = run()
    val added = persisted() -- before.keySet
    assert(added.values.forall(_ == null), s"Dataset caches left behind: $added")
    out match {
      case df: Dataset[_] =>
        assert(added.nonEmpty, "the result must come back materialized")
        assert(added.keySet.subsetOf(behind(df)),
          s"storage not behind the result: ${added.keySet -- behind(df)}")
      case _ => assert(added.isEmpty, s"storage left behind: $added")
    }
  }

  test("k-means results without vectors materialize no vectors") {
    for (out <- Seq(KMeans.fixedPoint(emb, "vec_id", "embedding", 4, 2),
                    KMeans.fixedPointTwoLevel(emb, "vec_id", "embedding", 2, 1, 2, 1))) {
      val stored = out.queryExecution.logical.collect { case r: LogicalRDD => r.output }
      assert(stored.map(_.map(_.name)) == Seq(Seq("vec_id", "cluster", "dist")),
        "the checkpoint holds (id, cluster, dist) and no q")
    }
  }

  test("a frame the caller cached is used as it is and left cached") {
    val batch = Dedup.minhashIndex(docs.filter(col("id") > 2), "id", "text").persist()
    try {
      Dedup.incrementalMinhash(batch,
        Dedup.minhashIndex(docs.filter(col("id") <= 2), "id", "text"), threshold = 0.5)
      assert(batch.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally batch.unpersist()
  }

  for ((name, run) <- throwing) test(s"$name throws and leaves nothing") {
    val before = persisted()
    intercept[Exception](run())
    val added = persisted() -- before.keySet
    assert(added.isEmpty, s"storage left behind: $added")
  }
}
