package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run of one workload, in one JVM, driven by one client in
  * a closed loop: the next call starts only after the previous returned.
  * Prints one JSON result line on stdout (see `perfbench/run.py`).
  *
  * Phases: session start, then `SetupReps` set-ups (inputs generated,
  * fixtures built; only the last one is kept), then warm-up units, then the
  * timed phase of `--seconds`, extended until at least the workload's
  * minimum number of units has run. With `--trace 1` the timed phase is
  * split by time: its first half runs untraced and its second half traced,
  * and the per-unit difference is `trace.overhead_s`.
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Set("ingest", "incremental")(workload), s"unknown workload $workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    // local[N]: the other cores are left to the scheduler, JIT and GC
    val cpus = math.min(2, Runtime.getRuntime.availableProcessors)
    val work = Paths.get(a("workdir")).toAbsolutePath
    val spark = graft.core.SessionTuning.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - a("launch-ms").toLong) / 1e3
    val r = new Run(spark, work, a("seed").toLong, cpus, a.getOrElse("inject", ""))
    r.info ++= Seq("workload" -> workload, "seed" -> r.seed, "cpus" -> cpus,
      "seconds" -> seconds, "trace" -> (if (trace) 1 else 0), "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "setup_reps" -> SetupReps,
      "session_s" -> sessionS)
    val tracer = if (trace) Some(new Tracer(s"$workload-${r.seed}", spark)) else None
    var tracedWallNs = 0L
    var tracedUnits = 0
    var overheadS = 0.0
    try {
      /** The timed phase: run units until `seconds` have passed and, when
        * untraced, at least `minUnits` units have succeeded (failed units
        * extend the phase, up to twice `minUnits` units). A unit returns its
        * duration, or None when it failed.
        */
      def timed(minUnits: Int)(unit: Int => Option[Long]): Unit = {
        def loop(secs: Double, from: Int, min: Int): (Seq[Long], Int) = {
          val end = System.nanoTime() + (secs * 1e9).toLong
          val out = mutable.ArrayBuffer.empty[Long]
          var i = from
          while (System.nanoTime() < end || (out.size < min && i - from < 2 * min)) {
            unit(i).foreach(out += _)
            i += 1
          }
          (out.toSeq, i)
        }
        if (!trace) loop(seconds, 0, minUnits)
        else {
          val (plain, next) = loop(seconds / 2, 0, 1)
          tracer.get.attach()
          r.spans = tracer.get
          val t0 = System.nanoTime()
          val (traced, end) = loop(seconds / 2, next, 1)
          tracedWallNs = System.nanoTime() - t0
          tracedUnits = end - next
          r.spans = Spans.Off
          if (plain.nonEmpty && traced.nonEmpty)
            overheadS = (Stats.median(traced.map(_.toDouble)) - Stats.median(plain.map(_.toDouble))) / 1e9
        }
      }
      workload match {
        case "ingest"      => ingest(r, sessionS, timed, !trace)
        case "incremental" => incremental(r, sessionS, timed, !trace)
      }
      r.metric("peak_rss_mb", Main.peakRssMb, "MB")
    } catch {
      case e: Exception =>
        r.failed += 1
        r.attempted += 1
        r.errors += s"run: $e"
        e.printStackTrace()
    } finally spark.stop() // drains the listener bus before the trace is read
    tracer.foreach { tr =>
      Report.layers(r, tr, tracedWallNs, tracedUnits, overheadS, Paths.get(a("trace-out")))
    }
    Report.print(r)
  }

  /** Set up `SetupReps` times (inputs generated, fixtures built) and keep
    * the last, then run the warm-up units once. `setup_s` is the session
    * start plus the median set-up plus the warm-up.
    */
  private def setup[F, W](r: Run, sessionS: Double, build: Path => F, drop: F => Unit)(warm: F => W): (F, W) = {
    var kept: Option[F] = None
    val reps = (1 to SetupReps).map { k =>
      kept.foreach(drop)
      val t0 = System.nanoTime()
      kept = Some(build(r.dir(s"setup-$k")))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val warmed = warm(kept.get)
    val warmS = (System.nanoTime() - t0) / 1e9
    r.metric("setup_s", sessionS + Stats.median(reps) + warmS, "s")
    r.info("setup_reps_s") = reps.map(x => f"$x%.3f").mkString(" ")
    r.info("warm_up_s") = warmS
    (kept.get, warmed)
  }

  private type Timed = Int => (Int => Option[Long]) => Unit

  // Each pass gives `Ingest.Days` round samples: 6 passes give 24, enough
  // for p58 with ten beyond it.
  val MinPasses = 6

  // Two warm-up passes: the first pays for the cold JIT; after it the
  // timed days still got faster over the run.
  val WarmPasses = 2

  private def ingest(r: Run, sessionS: Double, timed: Timed, untraced: Boolean): Unit = {
    // The first warm-up pass's job list is kept: every later pass
    // re-requests it in its `rebuild_s` blocks.
    val ((dir, in), ref) = setup[(Path, Ingest.Input), Incremental.JobList](r, sessionS,
      dir => (dir, Ingest.generate(r, dir.resolve("input"))), { case (d, _) => Run.rmrf(d) }) {
      case (dir, in) =>
        val first = r.attempt("warm-up pass 1", timed = false)(Ingest.pass(r, in, dir.resolve("ref"), None))
          .getOrElse(throw new IllegalStateException("the first warm-up pass failed"))
        Incremental.warmRebuild(r, first.jobs)
        (2 to WarmPasses).foreach { k =>
          r.attempt(s"warm-up pass $k", timed = false)(Ingest.pass(r, in, dir.resolve("warm"), Some(first.jobs)))
          Run.rmrf(dir.resolve("warm"))
        }
        first.jobs
    }
    val outs = mutable.ArrayBuffer.empty[Ingest.PassOut]
    timed(MinPasses) { i =>
      val root = dir.resolve(s"pass-$i")
      val o = r.attempt(s"pass $i")(Ingest.pass(r, in, root, Some(ref)))
      Run.rmrf(root)
      o.foreach(outs += _)
      o.map(_.ns)
    }
    val total = in.total
    r.info ++= Seq("input_rows" -> total.csvRows, "input_bytes" -> total.bytes,
      "typed_rows" -> total.good, "chain_length" -> Ingest.Days, "units" -> outs.size,
      "unit" -> "pass", "round" -> "one day's JobRunner.build and Urd.add")
    if (outs.nonEmpty) {
      val wall = Stats.median(outs.map(_.ns / 1e9).toSeq)
      r.metric("wall_s", wall, "s")
      r.metric("rows_per_s", total.good / wall, "1/s")
      r.metric("stored_bytes_per_input_byte",
        Stats.median(outs.map(_.storedBytes.toDouble).toSeq) / total.bytes, "ratio")
      rebuild(r, outs.flatMap(_.rebuildNs).toSeq)
      if (untraced) rounds(r, outs.flatMap(_.dayNs).toSeq, MinPasses * Ingest.Days)
    }
  }

  // The set-ups already built twelve days; four rounds warm up the rest of
  // the round (range read, group-by, checksum). Rounds still get a little
  // faster over the timed phase.
  val WarmRounds = 4

  // 25 rounds leave ten beyond p60.
  val MinRounds = 25

  private def incremental(r: Run, sessionS: Double, timed: Timed, untraced: Boolean): Unit = {
    val (f, _) = setup[Incremental.Fixture, Unit](r, sessionS, { dir =>
      Incremental.buildBase(r, Incremental.generate(r, dir.resolve("input")), dir.resolve("chain"))
    }, f => Run.rmrf(f.root.getParent)) { f =>
      (0 until WarmRounds).foreach(n => r.attempt(s"warm-up round $n", timed = false)(Incremental.round(r, f, n)))
      r.attempt("warm-up reruns", timed = false)(Incremental.warmRebuild(r, f.list(r)))
    }
    val outs = mutable.ArrayBuffer.empty[(Int, Incremental.RoundOut)]
    timed(MinRounds) { i =>
      val n = WarmRounds + i
      val o = r.attempt(s"round $n")(Incremental.round(r, f, n))
      o.foreach(x => outs += ((n, x)))
      o.map(_.ns)
    }
    val in = f.in
    r.info ++= Seq("input_rows" -> in.rows, "input_bytes" -> in.bytes,
      "chain_length" -> (Incremental.BaseDays + 1), "window_days" -> Incremental.Window,
      "units" -> outs.size, "unit" -> "round", "round" -> "one incremental round")
    if (outs.nonEmpty) {
      val ns = outs.map(_._2.ns / 1e9).toSeq
      r.metric("wall_s", ns.sum / ns.size, "s")
      r.metric("rows_per_s",
        outs.map { case (n, _) => in.poolStats(n % Incremental.Pool).good }.sum / ns.sum, "1/s")
      r.metric("stored_bytes_per_input_byte", Stats.median(outs.map(_._2.storedRatio).toSeq), "ratio")
      rebuild(r, outs.map(_._2.rebuildNs).toSeq)
      if (untraced) rounds(r, outs.map(_._2.ns).toSeq, MinRounds)
    }
  }

  /** `rebuild_s`: the 90th percentile of the run's blocks (see
    * `Incremental.rebuildBlock`). A block runs at one of two speeds, about
    * 0.06 or 0.10–0.14 ms a rerun, and the share of fast blocks changed
    * from none to about half between runs, so the median rerun of a run
    * jumped between the two speeds. The 90th percentile stays on the
    * slower one.
    */
  private def rebuild(r: Run, blocksNs: Seq[Double]): Unit = {
    r.info("rebuild_blocks") = blocksNs.size
    r.info("rebuild_block_ms") = blocksNs.map(x => f"${x / 1e6}%.4f").mkString(" ")
    r.metric("rebuild_s", Stats.percentile(blocksNs, 90) / 1e9, "s")
  }

  /** Round latency: median, and a tail percentile fixed per workload: the
    * highest with at least ten of the workload's `minRounds` samples beyond
    * it. The timed phase runs at least that many; fewer successful rounds
    * fail the run.
    */
  private def rounds(r: Run, ns: Seq[Long], minRounds: Int): Unit = {
    val s = ns.map(_ / 1e9)
    val p = Stats.tailPercentile(minRounds).get
    r.info("round_s") = s.map(x => f"$x%.3f").mkString(" ")
    r.info ++= Seq("rounds" -> s.size, "round_tail_percentile" -> p)
    r.metric("round_p50_s", Stats.median(s), "s")
    if (s.size < minRounds) r.fail(s"${s.size} round samples, fewer than the $minRounds p$p needs")
    else r.metric("round_tail_s", Stats.percentile(s, p), "s")
  }

  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
