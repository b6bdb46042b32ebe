package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  /** `env`=<comma-separated name prefixes>, the single-query reproduction
    * switch of Bench and ScaleCheck: None when unset, else the matching
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
    // untimed warmup: JIT + codegen + first read of every parquet table, so
    // the first timed query doesn't absorb one-time costs (round-2 q10 was
    // ~6.8s of which most was warmup — masks real regressions round-over-round)
    // per-item try: one missing table must not silently abort the rest of
    // the warmup (which would reintroduce first-query skew invisibly)
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup skipped $t: ${e.getMessage}") }
    }
    // Timed: min of 3 passes per query, in sorted-name order.
    //  - min-of-N: a single pass is hostage to GC pauses / machine
    //    contention — round 6 showed 3-4x swings on queries whose code had
    //    not changed. The min over warm passes is the plan's cost; noise
    //    only ever inflates a sample, never deflates it.
    //  - sorted order: SparkEntry.queries is a Map, so adding a query
    //    permutes iteration order and shifts which neighbors' GC debt each
    //    query inherits. Sorting keeps run order stable across rounds.
    // SPARK_GRAFT_BENCH_ONLY=<comma-separated name prefixes>: time only
    // matching queries — the local-reproduction switch for adjudicating
    // single-query drift (the driver sets nothing, so it always runs the
    // full set).
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val only = onlyMatching("SPARK_GRAFT_BENCH_ONLY", "bench", all.map(_._1))
    val ordered0 = all.filter(kv => only.forall(_.contains(kv._1)))
    // full untimed pass over the (possibly filtered) query set: builds/caches
    // the memoized fixtures (graft.queries.Fixtures — JobRunner-backed, so
    // the second pass reuses them) and absorbs per-query first-run codegen.
    // The timed pass below then measures operator plan cost, not fixture I/O.
    // Warming only the filtered set keeps single-query repro runs fast.
    ordered0.foreach { case (name, fn) =>
      try graft.core.Materialize.full(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
    }
    // Per-pass order: pass 1 sorted, passes 2..n deterministically
    // seeded shuffles. The r12 order experiment measured median 5.4% /
    // p90 21.5% per-query movement between forward and reverse order
    // (VARIANCE.json order_note) — neighbor GC debt is real — so the
    // min-of-3 now spans three DIFFERENT orders, which de-correlates a
    // query's min from any one neighborhood. Seeds are fixed, so run
    // order is still reproducible round over round.
    def orderFor(pass: Int): Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (pass == 1) ordered0
      else new scala.util.Random(pass.toLong * 7919L).shuffle(ordered0)
    // GC/heap telemetry: cumulative collector time across all GC beans, and
    // used-heap after each sample. Recorded per query per pass so a future
    // wall-time outlier is adjudicated mechanically (wall inflation that
    // tracks gc_ms is memory pressure; wall inflation with flat gc_ms is
    // ambient CPU contention) instead of by narrative — the r12 driver tail
    // took three rounds to adjudicate for lack of exactly these columns.
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    def heapUsedMb(): Long = java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
    final case class Sample(sec: Double, gcMs: Long, heapMb: Long)
    // A query that throws in any pass is FAILED: its time-to-failure is not
    // a sample, it is left out of every table and total, and the run exits
    // non-zero after writing the artifact (PlanDump's and Verify's policy).
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val passes = 3
    val samples = (1 to passes).map { pass =>
      // drop every persisted RDD/Dataset from previous passes: queries
      // persist() intermediates and never unpersist (correct for a user
      // session; in a 100+-query loop the entries accumulate without
      // bound). Purging makes each pass self-contained and removes cache
      // pressure as a confounder — r10 saw one run's pass totals grow
      // 49 s / 97.6 s / 146.8 s while its identical back-to-back twin ran
      // flat (53.6/49.3/50.2), so the growth is environmental, but the
      // purge bounds the engine-side contribution either way. Disk-backed
      // state (snapshot fixtures) is unaffected.
      graft.core.Materialize.purge(spark)
      orderFor(pass).map { case (name, fn) =>
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        // noop-sink full materialization, NOT count(): count() lets
        // Catalyst prune projections and eliminate unique-key left joins,
        // so several queries timed a collapsed plan (see core/Materialize;
        // numbers from r12 on are re-baselined under the honest action)
        try {
          graft.core.Materialize.full(fn(spark, sfDir))
          val sec = (System.nanoTime() - t0) / 1e9
          Some(name -> Sample(sec, gcMillis() - gc0, heapUsedMb()))
        } catch { case NonFatal(e) =>
          failed += name
          System.err.println(s"[bench] pass $pass $name failed: ${e.getMessage}")
          None
        }
      }.flatten.toMap
    }
    // per-pass totals to stderr: when a future round's numbers look off,
    // this shows whether noise hit one pass or all three (the JSON line on
    // stdout stays the single driver-parsed artifact)
    samples.zipWithIndex.foreach { case (m, i) =>
      System.err.println(
        f"[bench] pass ${i + 1}: ${m.values.map(_.sec).sum}%.1f s, gc ${m.values.map(_.gcMs).sum} ms")
    }
    val timed = ordered0.filterNot(kv => failed(kv._1))
    val results = timed.map { case (name, _) =>
      name -> samples.map(_(name)).minBy(_.sec)
    }
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
    val gcWorstQs =
      obj(results.map { case (k, _) => k -> samples.map(_(k).gcMs).max })(_.toString)
    val heapQs = obj(results)(_.heapMb.toString)
    val failedQs = failed.map(graft.core.JsonLite.quote).mkString("[", ",", "]")
    val fullLine =
      f"""{"metric":"total","unit":"sec","sf":"$sfDir","cpus":$cpus,"queries":$qs,"gc_ms":$gcQs,"gc_ms_worst":$gcWorstQs,"heap_mb":$heapQs,"failed":$failedQs,"value":$total%.4f}"""
    System.err.println(fullLine)
    // A filtered (SPARK_GRAFT_BENCH_ONLY) run writes to BENCH_PARTIAL_*
    // so a single-query repro can never clobber the committed full-table
    // artifact — the same never-clobber rule as ScaleCheck's
    // SCALE_CHECK_REPRO.json. Both artifacts carry the core count in the
    // name so the driver's low-core scaling run coexists with the main
    // run instead of overwriting it.
    val artifact =
      if (only.isDefined) s"BENCH_PARTIAL_c$cpus.json"
      else s"BENCH_FULL_c$cpus.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
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
