package perfbench

import graft.jobs.{JobRunner, Urd}
import graft.ops.{CsvExport, DatasetChecksum, DatasetSort}
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `ingest`: seeded CSV days built into a hashed, chained, typed snapshot
  * set. One pass builds every day (one JobRunner.build and one Urd.add
  * each) into a fresh store and job root, so nothing is a cache hit, then
  * sorts, checksums and exports the chain. Parsing and snapshot writes do
  * most of the work.
  */
object Ingest {
  val Days = 4
  val Rows = 6000

  final case class Input(csvs: Seq[Path], stats: Seq[DayStats]) {
    def total: DayStats = stats.reduce(_ + _)
  }

  def generate(r: Run, dir: Path): Input = {
    val csvs = (0 until Days).map(d => dir.resolve(f"day$d%02d.csv"))
    Input(csvs, csvs.zipWithIndex.map { case (p, d) => Gen.writeDay(p, r.seed, d, Rows) })
  }

  /** @param ns         the pass time, without its `rebuild_s` blocks
    * @param dayNs      latency of each day's build and Urd.add
    * @param rebuildNs  the `rebuild_s` block taken after each day
    * @param jobs       the pass's finished job list
    */
  final case class PassOut(ns: Long, dayNs: Seq[Long], rebuildNs: Seq[Double], storedBytes: Long,
      jobs: Incremental.JobList)

  private val checksums = mutable.Set.empty[(BigDecimal, BigDecimal, Long)]

  /** One pass in a fresh directory; checks run after the timer stops.
    * After each day, with the pass timer paused, a `rebuild_s` block
    * re-requests `ref`, the finished job list of an earlier pass.
    */
  def pass(r: Run, in: Input, root: Path, ref: Option[Incremental.JobList]): PassOut = {
    val t = r.spans
    val t0 = System.nanoTime()
    val store = Day.store(r, root)
    val runner = t("jobs.JobRunner.open")(new JobRunner(store, root.resolve("jobs").toString))
    val urd = t("jobs.Urd.open")(new Urd(root.resolve("urd.log").toString))
    val dayNs = mutable.ArrayBuffer.empty[Long]
    val rebuildNs = mutable.ArrayBuffer.empty[Double]
    var paused = 0L
    val days = in.csvs.zipWithIndex.map { case (csv, d) =>
      val d0 = System.nanoTime()
      val res = Day.build(r, runner, Day.request(csv, d, None), urd = Some((urd, "bench/ingest")))
      t("jobs.Urd.add")(urd.add("bench/ingest", Gen.date(d), Seq("day" -> res.jobid)))
      val d1 = System.nanoTime()
      dayNs += d1 - d0
      ref.foreach { list =>
        rebuildNs += Incremental.rebuildBlock(r, list)
        paused += System.nanoTime() - d1
      }
      res
    }
    val tip = days.last.output("typed")
    val chain = Chain.read(r, store, tip)
    val sorted = t("ops.DatasetSort")(
      DatasetSort(chain, Seq(DatasetSort.SortCol("ts"), DatasetSort.SortCol("id")), acrossSlices = true))
    val (hi, lo, lines) = t("ops.DatasetChecksum")(DatasetChecksum.value(chain))
    val exported = root.resolve("export.csv")
    t("ops.CsvExport")(CsvExport(sorted, exported.toString))
    val ns = System.nanoTime() - t0 - paused

    // checks, outside the timed window
    val want = in.total
    days.zip(in.stats).foreach { case (res, s) => Day.checkOutputs(r, res, s) }
    val observedLines = if (r.injectNow("corrupt")) lines + 1 else lines
    r.checkEq("checksum lines", observedLines, want.good)
    checksums += ((hi, lo, lines))
    r.check(checksums.size == 1, s"checksum differs between passes over the same input: $checksums")
    checkExport(r, exported, want)
    if (t.on) t.count("ops.CsvExport.bytes", Files.size(exported).toDouble)
    val jobs = Incremental.JobList(store, root.resolve("jobs"), in.csvs, days.map(_.jobid))
    val rebuilt = r.untraced(Incremental.rerun(r, store, jobs.jobs, in.csvs))
    r.checkEq("re-requested job ids", rebuilt.map(_.jobid), jobs.ids)
    PassOut(ns, dayNs.toSeq, rebuildNs.toSeq, Run.du(root.resolve("store")), jobs)
  }

  /** The export, read in plain Scala, holds a header and exactly the
    * typed rows the generator kept, sorted by `ts`.
    */
  private def checkExport(r: Run, exported: Path, want: DayStats): Unit = {
    val stream = Files.lines(exported)
    val it = stream.iterator()
    try {
      r.checkEq("export header", it.next(), Gen.Header)
      var n, sumId, sumQty, sumCode, trueFlags = 0L
      var minPrice = Double.PositiveInfinity
      var maxPrice = Double.NegativeInfinity
      var minTs = "~"
      var maxTs = ""
      var sorted = true
      val keys = mutable.HashSet.empty[String]
      while (it.hasNext) {
        val f = it.next().split(",", 9)
        n += 1
        sumId += f(0).toLong
        keys += f(1)
        sumQty += f(2).toLong
        sumCode += f(3).toLong
        val price = f(4).toDouble
        minPrice = math.min(minPrice, price)
        maxPrice = math.max(maxPrice, price)
        if (f(6) < maxTs) sorted = false
        if (f(6) < minTs) minTs = f(6)
        if (f(6) > maxTs) maxTs = f(6)
        if (f(7).toBoolean) trueFlags += 1
      }
      r.checkEq("exported rows", n, want.good)
      r.check(sorted, "export is not sorted by ts")
      r.checkEq("sum(id)", sumId, want.sumId)
      r.checkEq("sum(qty)", sumQty, want.sumQty)
      r.checkEq("sum(code)", sumCode, want.sumCode)
      r.checkEq("min(price)", minPrice, want.minPrice)
      r.checkEq("max(price)", maxPrice, want.maxPrice)
      r.checkEq("min(ts)", minTs, want.minTs)
      r.checkEq("max(ts)", maxTs, want.maxTs)
      r.checkEq("true flags", trueFlags, want.trueFlags)
      r.checkEq("distinct keys", keys.size.toLong, want.keyCounts.size.toLong)
    } finally stream.close()
  }
}
