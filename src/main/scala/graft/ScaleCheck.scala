package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{JsonLite, SessionTuning, TimedPasses}
import scala.collection.immutable.ListMap

/** Empirical scale check: synthesizes a decade (x10, x100 or x1000) of
  * the sf0.1 tables and times each target at sf0.1 and at the decade in
  * one session, through the same [[TimedPasses]] loop as Bench (min-of-3
  * at sf0.1, min-of-2 at the decade). Each row is the two walls, their
  * log-log slope over the decade and the same for shuffle bytes, written
  * into the decade's section of SCALE_CHECK.json. Protocol, synthesis and
  * sizing rules, and the notes on past rows: docs/SCALE.md.
  *
  * Usage: `runMain graft.ScaleCheck [10|100|1000]`, with
  * SPARK_GRAFT_SF_DIR (the sf0.1 base), SPARK_GRAFT_CPUS and
  * SPARK_GRAFT_SCALE_ONLY=<name prefixes> (see [[Bench.onlyMatching]]).
  */
object ScaleCheck {
  private type Q = (SparkSession, String) => DataFrame

  /** A target: the tables its query reads (comma-separated; only these
    * are synthesized at the decade), the largest decade it runs at, and
    * optionally a twin replacing the gated query, given the run's decade
    * and this scale's multiplier (1 at sf0.1, the decade above it).
    */
  private final case class Target(tables: String, largest: Int = 10,
                                  twin: Option[(Int, Int) => Q] = None)

  private def twin(f: (Int, Int) => Q): Option[(Int, Int) => Q] = Some(f)

  /** Every target. The twins scale k with N (the SemDeDup sizing rule,
    * docs/SCALE.md): a fixed k would time the data's designed O(sum c^2)
    * pair growth, not the engine. gr_pagerank at x1000 runs its
    * deployment shape at both scales of the row.
    */
  private val Targets: ListMap[String, Target] = {
    import graft.core.Tables
    import graft.ops.{KMeans, Pq, SemDeDup}
    import graft.queries.GraphPack
    val (d, e, l) = ("documents", "embeddings", "lineitem")
    ListMap(
      "ann_ivfpq" -> Target(e, 100, twin((_, m) => (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Pq.searchIvfPq(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          dim = 64, m = 8, ksub = 16, iters = 2, nlist = 16 * m, nprobe = 4 * m, k = 10)
      })),
      "ann_pq_persisted" -> Target(e),
      "ann_pq_recall" -> Target(e, 100),
      "dd_inc_semantic" -> Target(e, 10, twin((_, m) => (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val hist = emb.filter(col("vec_id") % 5 =!= 0)
        val mus = KMeans.fit(hist, "vec_id", "embedding", k = 8 * m, iters = 3)
        SemDeDup.incremental(emb.filter(col("vec_id") % 5 === 0),
          KMeans.assignTo(hist, "vec_id", "embedding", mus)
            .select(col("vec_id"), col("cluster"), col("q")),
          mus, "vec_id", "embedding", tauSq = 5000L)
      })),
      "dd_line_dedup" -> Target(d, 1000),
      "dd_minhash_lsh" -> Target(d),
      "dd_ngram_jaccard" -> Target(d, 100),
      "dd_semantic" -> Target(e, 10, twin((_, m) => (s, dir) =>
        SemDeDup.semantic(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8 * m, iters = 3, tauSq = 6500L))),
      "dd_simhash" -> Target(d, 100),
      "dd_simhash_wide" -> Target(d, 1000),
      "dd_spans" -> Target(d),
      "gr_cluster_labelprop" -> Target(e, 100, twin((_, m) => (s, dir) =>
        GraphPack.clusterLabelProp(s, dir, kClusters = 8 * m))),
      "gr_knn_labelprop" -> Target(e, 10, twin((_, m) => (s, dir) =>
        GraphPack.knnLabelPropScaled(s, dir, kClusters = 4 * m))),
      "gr_node2vec" -> Target(l, 100),
      "gr_pagerank" -> Target(l, 1000, twin((decade, _) =>
        if (decade >= 1000) GraphPack.pagerankX1000Q
        else SparkEntry.queries("gr_pagerank"))),
      "gr_pagerank_resume" -> Target(l, 100),
      "gr_pagerank_w" -> Target(l, 100),
      "gr_ppr" -> Target(l, 100),
      "gr_report" -> Target("lineitem,orders"),
      "gr_triangles" -> Target(l, 100),
      "gr_walks" -> Target(l, 100),
      "mm_audio_adpcm" -> Target(d),
      "mm_audio_depth" -> Target(d),
      "mm_audio_float" -> Target(d),
      "mm_audio_g711" -> Target(d),
      "mm_audio_msadpcm" -> Target(d),
      "mm_codec_roundtrip" -> Target(d),
      "mm_gif_anim" -> Target(d),
      "mm_gif_compose" -> Target(d),
      "mm_jpeg12" -> Target(d),
      "mm_jpeg_arith" -> Target(d),
      "mm_jpeg_lossless" -> Target(d),
      "mm_jpeg_lossless_rst" -> Target(d),
      "mm_jpeg_losslessarith" -> Target(d),
      "mm_png16" -> Target(d),
      "mm_png_envelope" -> Target(d),
      "mm_png_subbyte" -> Target(d),
      "mm_video_frames" -> Target(d),
      "mm_video_nodht" -> Target(d),
      "op_checksum_invariant" -> Target(l),
      "op_csvexport_zip" -> Target("customer"),
      "op_dataset_type2" -> Target(l, 100),
      "op_sort_order" -> Target(l),
      "op_type_fuzz" -> Target(l, 100),
      "pl_byte_fallback" -> Target(d),
      "pl_corpus_e2e" -> Target(d),
      "pl_curation_e2e" -> Target(e, 10, twin((_, m) => (s, dir) =>
        SemDeDup.curate(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8 * m, iters = 3, tauSq = 6500L, keepNum = 3, keepDen = 4, n = 5))),
      "pl_dedup_corpus" -> Target(d, 1000),
      "pl_dsir" -> Target(d, 100),
      "pl_kmeans" -> Target(e, 100),
      "pl_lm_backoff" -> Target(d),
      "pl_nb_lang" -> Target(d, 1000),
      "pl_unigram_roundtrip" -> Target(d),
      "pl_wordpiece_roundtrip" -> Target(d),
      "q5_local_supplier" -> Target("customer,lineitem,orders,supplier"),
      "q_salted_join" -> Target("lineitem,orders"),
      "rt_bm25" -> Target(d, 1000),
      "rt_eval_hybrid" -> Target(s"$d,$e"),
      "rt_hybrid_rrf" -> Target(s"$d,$e", 100),
      "tx_keywords" -> Target(d))
  }

  /** Key offset per replica — far above any base key (max base key is
    * o_orderkey ~ 1.5e5 at sf0.1), so replica key spaces never collide.
    */
  private[graft] val Stride = 1000000000L

  private[graft] val FactKeys: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val DimTables = Seq("nation", "region")

  /** Version of what [[replicateTable]] writes, stamped into the scale
    * dir's marker and every row. 1: one file per table below x100.
    * 2: every fact table split into `SplitFiles` files at every decade.
    */
  private[graft] val Layout = 2
  private val SplitFiles = 32

  /** `reps` replicas of one fact table. Replica 0 is the base row for
    * row; replica r offsets every key by `r * Stride`, and in documents
    * suffixes every token with `_r<r>` (whitespace runs kept, so each
    * document keeps its token count). The base is split before the
    * broadcast expansion, so generation and encode run in parallel
    * without shuffling the expanded relation.
    */
  private def replicateTable(s: SparkSession, baseDir: String, outDir: String,
                             table: String, reps: Int): Unit = {
    val df = s.read.parquet(s"$baseDir/$table.parquet").repartition(SplitFiles)
    val keys = FactKeys(table)
    val repd = df.crossJoin(broadcast(s.range(reps).toDF("__rep")))
    val shifted = repd.select(df.columns.map { c =>
      if (keys.contains(c)) (col(c) + col("__rep") * Stride).as(c) else col(c)
    }.toIndexedSeq :+ col("__rep"): _*)
    val out = if (table != "documents") shifted else shifted
      .withColumn("text", when(col("__rep") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1_r"), col("__rep")))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    out.drop("__rep").write.mode("overwrite").parquet(s"$outDir/$table.parquet")
  }

  /** Writes `tables` (fact tables, replicated) and the dimension tables
    * (copied) into `outDir`, then checks each fact table holds exactly
    * `reps` times the base rows. The dir's `_SCALE_LAYOUT` marker holds
    * layout, reps and base: a dir whose marker differs is deleted and
    * rebuilt. Within a matching dir a table counts as written only once
    * its parquet `_SUCCESS` exists, so a killed write is redone and a
    * later run can add tables.
    */
  private[graft] def synthesize(s: SparkSession, baseDir: String, outDir: String,
                                reps: Int, tables: Seq[String]): Unit = {
    val stamp = s"layout=$Layout reps=$reps base=$baseDir"
    val marker = Paths.get(outDir, "_SCALE_LAYOUT")
    if (!Files.exists(marker) || Files.readString(marker).trim != stamp) {
      val dir = new org.apache.hadoop.fs.Path(outDir)
      dir.getFileSystem(s.sparkContext.hadoopConfiguration).delete(dir, true)
      Files.createDirectories(Paths.get(outDir))
      Files.writeString(marker, stamp + "\n")
    }
    def done(t: String): Boolean = Files.exists(Paths.get(outDir, s"$t.parquet", "_SUCCESS"))
    tables.filterNot(done).foreach(replicateTable(s, baseDir, outDir, _, reps))
    DimTables.filterNot(done).foreach { t =>
      s.read.parquet(s"$baseDir/$t.parquet").write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    tables.foreach { t =>
      val (nBase, nBig) = (s.read.parquet(s"$baseDir/$t.parquet").count(),
        s.read.parquet(s"$outDir/$t.parquet").count())
      require(nBig == reps * nBase, s"x$reps synthesis wrong for $t: $nBig != $reps*$nBase")
    }
  }

  /** One row: both walls, their log-log slope over the decade and the
    * same for shuffle bytes (0 when either scale shuffles nothing), with
    * the stamp that says what was measured.
    */
  private def row(decade: Int, base: TimedPasses.Sample, big: TimedPasses.Sample,
                  stamp: Map[String, Any]): Map[String, Any] = {
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    def slope(a: Double, b: Double): Double =
      if (a > 0 && b > 0) r3(math.log(b / a) / math.log(decade.toDouble)) else 0.0
    val (s1, sk) = (base.shuffleBytes.toDouble, big.shuffleBytes.toDouble)
    stamp ++ Map("sf01_sec" -> r3(base.sec), s"x${decade}_sec" -> r3(big.sec),
      "ratio" -> r3(big.sec / base.sec), "slope" -> slope(base.sec, big.sec),
      "shuffle_sf01_mb" -> r3(s1 / 1e6), s"shuffle_x${decade}_mb" -> r3(sk / 1e6),
      "shuffle_slope" -> slope(s1, sk))
  }

  /** JSON with sorted keys, one entry per line down to the rows. */
  private def render(v: Any, depth: Int = 0): String = v match {
    case m: Map[_, _] =>
      val nl = if (depth < 3) "\n" else ""
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => JsonLite.quote(k) + ":" + render(x, depth + 1) }
        .mkString("{" + nl, "," + nl, nl + "}")
    case xs: Seq[_] => xs.map(render(_, depth + 1)).mkString("[", ",", "]")
    case x: String => JsonLite.quote(x)
    case null => "null"
    case x => x.toString
  }

  /** Replaces, in section `x<decade>` of `path`, the rows and failures of
    * the names this run measured; every other row stays as it was.
    */
  private[graft] def publish(path: String, decade: Int, names: Seq[String],
                             rows: Map[String, Any], failed: Map[String, Any]): Unit = {
    val p = Paths.get(path)
    type Obj = Map[String, Any]
    val all = if (Files.exists(p)) JsonLite.parse(Files.readString(p)).asInstanceOf[Obj]
              else Map.empty[String, Any]
    val sec = all.getOrElse(s"x$decade", Map.empty).asInstanceOf[Obj]
    def part(k: String, fresh: Obj): Obj =
      sec.getOrElse(k, Map.empty).asInstanceOf[Obj] -- names ++ fresh
    val next = all + (s"x$decade" -> Map("rows" -> part("rows", rows),
      "failed" -> part("failed", failed)))
    Files.writeString(p, render(next) + "\n")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val decade = args.headOption.getOrElse("10").toInt
    require(Seq(10, 100, 1000).contains(decade), s"decade must be 10, 100 or 1000, not $decade")
    val eligible = Targets.collect { case (n, t) if t.largest >= decade => n }.toSeq
    val names = Bench.onlyMatching("SPARK_GRAFT_SCALE_ONLY", "scale", eligible).getOrElse(eligible)
    // zstd from x1000 on: one lz4 copy of the x1000 edge relation in
    // flight plus its parquet output does not fit a 20 GB disk
    val builder = SessionTuning.local(cpus)
    val spark = (if (decade >= 1000) builder.config("spark.io.compression.codec", "zstd")
                 else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = s"${sys.props("user.dir")}/target/scale$decade"
    synthesize(spark, baseDir, dir, decade,
      names.flatMap(Targets(_).tables.split(',')).distinct.sorted)
    val freeGb = new java.io.File(dir).getUsableSpace / 1e9
    System.err.println(f"[scale] disk free: $freeGb%.1f GB")
    require(freeGb > 6.0, f"aborting x$decade: only $freeGb%.1f GB free on disk")
    def timed(d: String, mult: Int, ns: Seq[String], passes: Int) =
      TimedPasses.run(spark, "scale", ns.map { n =>
        val t = Targets(n)
        val q = t.twin.fold(SparkEntry.queries(n))(_(decade, mult))
        n -> (() => q(spark, d))
      }, passes)
    val base = timed(baseDir, 1, names, 3)
    val big = timed(dir, decade, names.filterNot(base.failed.contains), 2)
    spark.stop()
    val commit = scala.util.Try(scala.sys.process.Process(
      Seq("git", "describe", "--always", "--dirty")).!!.trim).getOrElse("unknown")
    val stamp = Map[String, Any]("commit" -> commit, "layout" -> Layout, "cpus" -> cpus)
    val bigBest = big.best.toMap
    val rows = base.best.collect { case (n, b) if bigBest.contains(n) =>
      n -> row(decade, b, bigBest(n), stamp) }.toMap
    val failed = base.failed.map { case (n, e) => n -> s"sf0.1: $e" } ++
      big.failed.map { case (n, e) => n -> s"x$decade: $e" }
    publish(s"${sys.props("user.dir")}/SCALE_CHECK.json", decade, names, rows, failed)
    if (failed.nonEmpty) {
      System.err.println(s"[scale] ${failed.size} targets failed: ${failed.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
