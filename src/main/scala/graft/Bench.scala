package graft
import scala.util.control.NonFatal
object Bench {
  /** `env`=<comma-separated name prefixes>, the name filter of Bench and
    * ScaleCheck: None when unset, else the matching
    * `names`. Fails fast (exit 2) when nothing matches — a typo'd prefix,
    * or an empty value that would otherwise match EVERYTHING while looking
    * like a filtered run — because either would produce a normal-looking
    * artifact that timed the wrong set.
    */
  private[graft] def onlyMatching(env: String, tag: String,
                                  names: Seq[String]): Option[Seq[String]] =
    sys.env.get(env).map { v =>
      val ps = v.split(',').map(_.trim).filter(_.nonEmpty)
      val hit = names.filter(n => ps.exists(n.startsWith))
      if (hit.isEmpty) {
        System.err.println(s"[$tag] $env='$v' matched zero names — check the prefix spelling")
        sys.exit(2)
      }
      System.err.println(s"[$tag] $env matched ${hit.size}: ${hit.mkString(", ")}")
      hit
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed first read of every parquet table, so the first query does
    // not absorb it; one missing table must not skip the rest
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] warmup skipped $t: ${e.getMessage}") }
    }
    // SPARK_GRAFT_BENCH_ONLY=<comma-separated name prefixes>: time only
    // matching queries (unset: the full set).
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val only = onlyMatching("SPARK_GRAFT_BENCH_ONLY", "bench", all.map(_._1))
    val run = graft.core.TimedPasses.run(spark, "bench",
      all.collect { case (n, fn) if only.forall(_.contains(n)) => n -> (() => fn(spark, sfDir)) },
      passes = 3)
    val results = run.best
    val failed = run.failed.keys
    // 4 decimals (0.1 ms): full double precision tripled the line length
    // and the driver archives only a fixed-size tail of stdout — r7's
    // BENCH tail lost the first ~18 queries AND the total to truncation.
    def obj[V](kvs: Seq[(String, V)])(f: V => String): String =
      kvs.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    val qs = obj(results)(v => f"${v.sec}%.4f")
    val total = results.map(_._2.sec).sum
    // Complete per-query table (the pre-r21 stdout line, now file-only +
    // echoed to stderr for logs) — with per-query telemetry columns:
    // gc_ms = GC time during the min-wall sample (the reported number's
    // own GC cost), gc_ms_worst = max GC delta across the 3 passes
    // (neighbor-debt / pressure signal), heap_mb = used heap right after
    // the min-wall sample; failed = the queries that threw in any pass.
    val gcQs = obj(results)(_.gcMs.toString)
    val gcWorstQs = obj(results.map { case (k, _) => k -> run.gcWorstMs(k) })(_.toString)
    val heapQs = obj(results)(_.heapMb.toString)
    val failedQs = failed.map(graft.core.JsonLite.quote).mkString("[", ",", "]")
    val fullLine =
      f"""{"metric":"total","unit":"sec","sf":"$sfDir","cpus":$cpus,"queries":$qs,"gc_ms":$gcQs,"gc_ms_worst":$gcWorstQs,"heap_mb":$heapQs,"failed":$failedQs,"value":$total%.4f}"""
    System.err.println(fullLine)
    // A filtered (SPARK_GRAFT_BENCH_ONLY) run writes to BENCH_PARTIAL_*
    // so a single-query repro can never clobber the committed full-table
    // artifact. Both artifacts carry the core count in the name so a
    // low-core scaling run coexists with the main run instead of
    // overwriting it.
    val artifact =
      if (only.isDefined) s"BENCH_PARTIAL_c$cpus.json"
      else s"BENCH_FULL_c$cpus.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] $artifact write failed: ${e.getMessage}") }
    spark.stop()
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
    // THE stdout contract line, printed LAST: a bench consumer that keeps
    // only a ~2000-char tail of stdout and stderr together must still see
    // it whole, so the 4.3 KB per-query line above comes first. The
    // contract line is tail-sized: total + cpus + per-FAMILY subtotals
    // (11 families, ~300 chars). The per-query min-of-3 table — same
    // methodology, nothing dropped — is the cpus-stamped
    // BENCH_FULL_c$cpus.json above (the core count in the name keeps a
    // low-core re-run from clobbering the main run's table).
    // family = name up to the first '_' with trailing digits stripped, so
    // q1/q3/q5/q6/q10/q_* all land in "q" (ann, dd, gr, job, mm, op, pl,
    // q, rt, tx, urd).
    def family(n: String): String =
      n.takeWhile(_ != '_').reverse.dropWhile(_.isDigit).reverse
    val famQs = obj(results.groupBy { case (k, _) => family(k) }.toSeq.sortBy(_._1))(
      rs => f"${rs.map(_._2.sec).sum}%.4f")
    println(
      f"""{"metric":"total","unit":"sec","sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"families":$famQs,"value":$total%.4f}""")
    if (failed.nonEmpty) sys.exit(1)
  }
}
