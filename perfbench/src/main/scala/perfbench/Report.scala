package perfbench

import java.nio.file.{Files, Path}

/** Per-layer metrics from the traced phase, the span and layer files, and
  * the JSON result line.
  */
object Report {

  /** The per-layer metrics `BENCHMARK.json` lists, from the traced phase
    * alone, as totals per traced unit (an `ingest` pass or an `incremental`
    * round) so that a faster layer fitting more units into the phase does
    * not inflate them; ratios are over the whole phase. Also writes every
    * span and the per-layer table under `out`.
    */
  def layers(r: Run, tr: Tracer, tracedWallNs: Long, tracedUnits: Int, overheadS: Double, out: Path): Unit = {
    val spans = tr.spans.toSeq
    val self = Spans.selfNs(spans)
    val exec = tr.byspan
    def named(n: String) = spans.filter(_.name == n)
    def busy(ns: String*) = ns.flatMap(named).map(_.durNs).sum / 1e9
    def execOf(ss: Seq[Span]) = { val a = new ExecAgg; ss.foreach(s => exec.get(s.id).foreach(a += _)); a }
    def c(n: String) = tr.counters.getOrElse(n, 0.0)
    val units = math.max(1, tracedUnits)
    // ratios are over the whole phase already; every other metric is per unit
    def m(n: String, v: Double, unit: String) = r.metric(n, if (unit == "ratio") v else v / units, unit)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    m("ops.CsvImport.busy_s", busy("ops.CsvImport"), "s")
    m("ops.CsvImport.rows", c("ops.CsvImport.rows"), "count")
    m("ops.CsvImport.bad_rows", c("ops.CsvImport.bad_rows"), "count")
    // DatasetType.apply only builds a plan; its parse runs in the write's
    // actions: rows through the filterBad Filter, and the executor CPU of
    // the tasks that read the CSV (split, parse and filter in one stage)
    val writes = named("core.SnapshotStore.write")
    val w = execOf(writes)
    m("ops.DatasetType.busy_s", busy("ops.DatasetType"), "s")
    m("ops.DatasetType.rows_in", w.filterRowsIn.toDouble, "count")
    m("ops.DatasetType.bad_ratio", ratio((w.filterRowsIn - w.filterRowsOut).toDouble, w.filterRowsIn.toDouble), "ratio")
    m("ops.DatasetType.exec_cpu_s", w.scanCpuNs / 1e9, "s")
    m("core.SnapshotStore.write.busy_s", busy("core.SnapshotStore.write"), "s")
    m("core.SnapshotStore.write.calls", writes.size.toDouble, "count")
    m("core.SnapshotStore.write.bytes_written", c("core.SnapshotStore.write.bytes_written"), "bytes")
    m("core.SnapshotStore.write.spark_jobs", w.jobs.toDouble, "count")
    m("core.SnapshotStore.iterateChain.busy_s",
      busy("core.SnapshotStore.iterateChain", "core.SnapshotStore.iterateChain.read"), "s")
    val walked = c("core.SnapshotStore.iterateChain.links_walked")
    m("core.SnapshotStore.iterateChain.links_walked", walked, "count")
    m("core.SnapshotStore.iterateChain.links_skipped_ratio",
      ratio(c("core.SnapshotStore.iterateChain.links_skipped"), walked), "ratio")
    m("core.SnapshotStore.iterateChain.files_read", c("core.SnapshotStore.iterateChain.files_read"), "count")
    val builds = named("jobs.JobRunner.build")
    val (hits, misses) = builds.partition(_.attrs.get("hit").contains(1.0))
    m("jobs.JobRunner.open_s", busy("jobs.JobRunner.open"), "s")
    m("jobs.JobRunner.calls", builds.size.toDouble, "count")
    m("jobs.JobRunner.hit_ratio", ratio(hits.size.toDouble, builds.size.toDouble), "ratio")
    m("jobs.JobRunner.hit_s", hits.map(_.durNs).sum / 1e9, "s")
    m("jobs.JobRunner.miss_self_s", misses.map(s => self(s.id)).sum / 1e9, "s")
    m("jobs.Urd.open_s", busy("jobs.Urd.open"), "s")
    m("jobs.Urd.add_s", busy("jobs.Urd.add"), "s")
    m("jobs.Urd.calls", (named("jobs.Urd.open").size + named("jobs.Urd.add").size).toDouble, "count")
    m("ops.DatasetSort.busy_s", busy("ops.DatasetSort"), "s")
    m("ops.DatasetChecksum.busy_s", busy("ops.DatasetChecksum"), "s")
    m("ops.CsvExport.busy_s", busy("ops.CsvExport"), "s")
    m("ops.CsvExport.bytes", c("ops.CsvExport.bytes"), "bytes")
    val all = execOf(spans)
    m("catalyst.analysis_s", all.analysisMs / 1e3, "s")
    m("catalyst.optimization_s", all.optimizationMs / 1e3, "s")
    m("catalyst.planning_s", all.planningMs / 1e3, "s")
    m("exec.jobs", all.jobs.toDouble, "count")
    m("exec.stages", all.stages.toDouble, "count")
    m("exec.tasks", all.tasks.toDouble, "count")
    m("exec.failed_tasks", all.failedTasks.toDouble, "count")
    m("exec.run_s", all.runMs / 1e3, "s")
    m("exec.cpu_s", all.cpuNs / 1e9, "s")
    m("exec.gc_s", all.gcMs / 1e3, "s")
    m("exec.shuffle_read_bytes", all.shuffleRead.toDouble, "bytes")
    m("exec.shuffle_write_bytes", all.shuffleWrite.toDouble, "bytes")
    m("exec.spill_bytes", all.spill.toDouble, "bytes")
    m("exec.input_bytes", all.input.toDouble, "bytes")
    m("exec.task_skew", all.taskSkew, "ratio")
    m("exec.idle_core_s", tracedWallNs / 1e9 * r.cpus - all.runMs / 1e3, "s")
    r.metric("trace.overhead_s", overheadS, "s")

    Files.createDirectories(out)
    val lines = spans.map { s =>
      val e = exec.getOrElse(s.id, new ExecAgg)
      s"""{"run":${str(s.run)},"id":${s.id},"parent":${s.parent},"name":${str(s.name)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_ns":${self(s.id)},""" +
        s""""jobs":${e.jobs},"stages":${e.stages},"tasks":${e.tasks},"run_ms":${e.runMs}""" +
        s.attrs.map { case (k, v) => s""","$k":$v""" }.mkString + "}"
    }
    Files.write(out.resolve(s"${tr.run}.spans.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val header = f"${"layer"}%-40s ${"calls"}%6s ${"busy_s"}%9s ${"self_s"}%9s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"run_s"}%8s ${"cpu_s"}%8s ${"gc_s"}%6s ${"shuf_rd"}%10s ${"shuf_wr"}%10s " +
      f"${"spill"}%8s ${"input"}%10s ${"skew"}%6s"
    val rows = spans.groupBy(_.name).toSeq.sortBy(-_._2.map(_.durNs).sum).map { case (n, ss) =>
      val e = execOf(ss)
      f"$n%-40s ${ss.size}%6d ${ss.map(_.durNs).sum / 1e9}%9.3f ${ss.map(s => self(s.id)).sum / 1e9}%9.3f " +
        f"${e.jobs}%5d ${e.stages}%6d ${e.tasks}%6d ${e.runMs / 1e3}%8.3f ${e.cpuNs / 1e9}%8.3f " +
        f"${e.gcMs / 1e3}%6.3f ${e.shuffleRead}%10d ${e.shuffleWrite}%10d ${e.spill}%8d ${e.input}%10d " +
        f"${e.taskSkew}%6.2f"
    }
    val table = (header +: rows) ++ Seq("") ++
      r.metrics.toSeq.map { case (k, (v, u)) => s"$k $v $u" }
    Files.write(out.resolve(s"${tr.run}.layers.txt"), table.mkString("", "\n", "\n").getBytes("UTF-8"))
    r.info ++= Seq("traced_units" -> tracedUnits, "spans" -> spans.size, "trace_files" -> out.resolve(s"${tr.run}.*").toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Number                            => n.toString
    case s                                    => str(s.toString)
  }

  /** The result line: correctness, attempted and failed operations, the
    * metrics, and the run's facts (`info`) and errors for the reader.
    */
  def print(r: Run): Unit = {
    val metrics = r.metrics.toSeq.map { case (k, (v, u)) =>
      s"""${str(k)}:{"value":${value(v)},"unit":${str(u)}}"""
    }.mkString("{", ",", "}")
    val info = r.info.toSeq.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
    val errors = r.errors.map(str).mkString("[", ",", "]")
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":$metrics,"info":$info,"errors":$errors}""")
  }
}
