package perfbench

import graft.core.SnapshotStore
import graft.jobs.{JobResult, JobRunner, Urd}
import graft.ops.DatasetChecksum
import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `incremental`: set-up builds a chain of `BaseDays` small days. Each
  * round then opens a fresh JobRunner and Urd, as a new CLI invocation
  * would, re-requests the unchanged job list once (all cache hits), builds one
  * new day on the chain's tip, reads a `Window`-day date range with
  * iterateChain (zone maps prune the other links), and runs a group-by on
  * the hashlabel and a DatasetChecksum over that range. Lookups, metadata
  * walks and small reads beside one small write.
  *
  * Every round branches its new day from the same base tip and removes it
  * after its checks, so every round finds the same job root and store and
  * reads the same chain length and data volume.
  */
object Incremental {
  val BaseDays = 4
  val Rows = 2000
  val Pool = 8
  val Window = 2
  val UrdKey = "bench/incr"

  final case class Input(base: Seq[Path], baseStats: Seq[DayStats], pool: Seq[Path], poolStats: Seq[DayStats]) {
    def rows: Long = (baseStats ++ poolStats).map(_.csvRows).sum
    def bytes: Long = (baseStats ++ poolStats).map(_.bytes).sum
  }

  /** A built base chain: the job ids, oldest first. */
  final case class Fixture(root: Path, in: Input, jobs: Seq[String]) {
    def list(r: Run): JobList = JobList(Day.store(r, root), root.resolve("jobs"), in.base, jobs)
  }

  def generate(r: Run, dir: Path): Input = {
    val base = (0 until BaseDays).map(d => dir.resolve(f"day$d%02d.csv"))
    val pool = (0 until Pool).map(i => dir.resolve(f"new$i%02d.csv"))
    Input(base, base.zipWithIndex.map { case (p, d) => Gen.writeDay(p, r.seed, d, Rows) },
      pool, pool.zipWithIndex.map { case (p, i) => Gen.writeDay(p, r.seed + 7919L * (i + 1), BaseDays, Rows) })
  }

  def buildBase(r: Run, in: Input, root: Path): Fixture = {
    val store = Day.store(r, root)
    val runner = new JobRunner(store, root.resolve("jobs").toString)
    val urd = new Urd(root.resolve("urd.log").toString)
    val jobs = in.base.zipWithIndex.map { case (csv, d) =>
      val res = Day.build(r, runner, Day.request(csv, d, None), urd = Some((urd, UrdKey)))
      Day.checkOutputs(r, res, in.baseStats(d))
      urd.add(UrdKey, Gen.date(d), Seq("day" -> res.jobid))
      res.jobid
    }
    Fixture(root, in, jobs)
  }

  /** @param rebuildNs    the round's `rebuild_s` block
    * @param storedRatio  the new day's snapshot bytes over its CSV bytes
    */
  final case class RoundOut(ns: Long, rebuildNs: Double, storedRatio: Double)

  /** A finished job list: its store and job root, the CSV of each day and
    * the job ids a re-request must return, oldest first.
    */
  final case class JobList(store: SnapshotStore, jobs: Path, csvs: Seq[Path], ids: Seq[String])

  /** Re-request an unchanged job list as a new invocation would: open a
    * JobRunner on the job root, then request every day, each a cache hit.
    */
  def rerun(r: Run, store: SnapshotStore, jobs: Path, csvs: Seq[Path]): Seq[JobResult] = {
    val runner = r.spans("jobs.JobRunner.open")(new JobRunner(store, jobs.toString))
    var prev = ""
    csvs.zipWithIndex.map { case (csv, d) =>
      val res = Day.build(r, runner, Day.request(csv, d, Some(prev)), mustHit = true)
      prev = res.jobid
      res
    }
  }

  /** Reruns in one `rebuild_s` block. One rerun takes about 0.1 ms. */
  val Rebuilds = 100

  /** One `rebuild_s` block: the median time of `Rebuilds` untraced reruns
    * of `list`, each checked to return its job ids. Blocks are taken
    * outside every timed window: after each `incremental` round, and after
    * each day of an `ingest` pass with the pass timer paused.
    */
  def rebuildBlock(r: Run, list: JobList): Double = r.untraced {
    var last = Seq.empty[JobResult]
    val ns = (1 to Rebuilds).map { _ =>
      val t0 = System.nanoTime()
      last = rerun(r, list.store, list.jobs, list.csvs)
      (System.nanoTime() - t0).toDouble
    }
    r.checkEq("rerun job ids", last.map(_.jobid), list.ids)
    Stats.median(ns)
  }

  /** Reruns made once during warm-up, so that the JIT has compiled the
    * rerun path before the first block: with only the blocks' reruns it was
    * still getting faster over the timed phase.
    */
  val WarmRebuilds = 4000

  def warmRebuild(r: Run, list: JobList): Unit =
    r.untraced((1 to WarmRebuilds).foreach(_ => rerun(r, list.store, list.jobs, list.csvs)))

  private val checksums = mutable.Map.empty[Int, (BigDecimal, BigDecimal, Long)]

  /** Round `n`; checks run after the timer stops. */
  def round(r: Run, f: Fixture, n: Int): RoundOut = {
    val t = r.spans
    val in = f.in
    val t0 = System.nanoTime()
    val store = Day.store(r, f.root)
    val urd = t("jobs.Urd.open")(new Urd(f.root.resolve("urd.log").toString))
    val rebuilt = rerun(r, store, f.root.resolve("jobs"), in.base)
    val runner = t("jobs.JobRunner.open")(new JobRunner(store, f.root.resolve("jobs").toString))
    val p = n % Pool
    val fresh = Day.build(r, runner, Day.request(in.pool(p), BaseDays, Some(rebuilt.last.jobid), Map("round" -> n.toString)))
    t("jobs.Urd.add")(urd.add(UrdKey + "/rounds", f"$n%08d", Seq("day" -> fresh.jobid)))
    val ranged = Chain.read(r, store, fresh.output("typed"),
      Some(("day", Gen.date(BaseDays - Window + 1), Gen.date(BaseDays + 1))))
    val rangeRow = t("core.SnapshotStore.iterateChain.read")(
      ranged.agg(count(lit(1)), sum("qty")).collect()(0))
    val groups = t("ops.groupBy_hashlabel")(
      ranged.groupBy("key").agg(count(lit(1)), sum("qty")).collect())
    val cks = t("ops.DatasetChecksum")(DatasetChecksum.value(ranged))
    val ns = System.nanoTime() - t0

    // checks and rebuild_s, outside the timed window
    r.checkEq("re-requested job ids", rebuilt.map(_.jobid), f.jobs)
    r.check(rebuilt.forall(_.cached), "an unchanged job was rebuilt")
    val rebuildNs = rebuildBlock(r, f.list(r))
    Day.checkOutputs(r, fresh, in.poolStats(p))
    val want = (in.baseStats.slice(BaseDays - Window + 1, BaseDays) :+ in.poolStats(p)).reduce(_ + _)
    r.checkEq("range rows", rangeRow.getLong(0), want.good)
    r.checkEq("range sum(qty)", rangeRow.getLong(1), want.sumQty)
    r.checkEq("groups", groups.length, want.keyCounts.size)
    val gotKeys = groups.map(g => g.getString(0).stripPrefix("k").toInt -> g.getLong(1)).toMap
    r.checkEq("rows per key", gotKeys, want.keyCounts)
    r.checkEq("group-by sum(qty)", groups.map(_.getLong(2)).sum, want.sumQty)
    val lines = if (r.injectNow("corrupt")) cks._3 + 1 else cks._3
    r.checkEq("checksum lines", lines, want.good)
    r.checkEq(s"checksum of new day $p", checksums.getOrElseUpdate(p, cks), cks)
    // drop the new day, so that every round starts from the same job root
    // and store
    val snap = java.nio.file.Paths.get(store.get(fresh.output("typed")).dir)
    val ratio = Run.du(snap).toDouble / in.poolStats(p).bytes
    Run.rmrf(snap)
    Run.rmrf(f.root.resolve("jobs").resolve(fresh.jobid))
    RoundOut(ns, rebuildNs, ratio)
  }
}

/** iterateChain with the chain counts measured from outside when tracing:
  * links walked, links the zone maps skipped, and files the read will scan.
  */
object Chain {
  def read(r: Run, store: SnapshotStore, tip: String,
      range: Option[(String, String, String)] = None): DataFrame = {
    val df = r.spans("core.SnapshotStore.iterateChain")(store.iterateChain(tip, range = range))
    if (r.spans.on) {
      val walked = store.chain(tip).size
      val files = df.inputFiles
      val kept = files.map(f => f.substring(0, f.indexOf("/data/"))).distinct.length
      r.spans.count("core.SnapshotStore.iterateChain.links_walked", walked.toDouble)
      r.spans.count("core.SnapshotStore.iterateChain.links_skipped", (walked - kept).toDouble)
      r.spans.count("core.SnapshotStore.iterateChain.files_read", files.length.toDouble)
    }
    df
  }
}
