package perfbench

import graft.core.SnapshotStore
import graft.jobs.{BuildChained, JobContext, JobRequest, JobResult, JobRunner, Urd}
import graft.ops.{CsvImport, CsvImportConfig, DatasetType}
import java.nio.file.Path
import org.apache.spark.sql.DataFrame

/** The daily pipeline both workloads run, one memoized job per CSV day:
  * CsvImport, then DatasetType (filterBad, hashlabel `key`), then
  * SnapshotStore.write chained onto the previous day's snapshot.
  */
object Day {
  val Method = "perfbench.day"

  /** `previous` is the previous day's job id, "" for none; leave it out
    * when BuildChained wires it from the Urd.
    */
  def request(csv: Path, day: Int, previous: Option[String], extra: Map[String, String] = Map.empty): JobRequest =
    JobRequest(Method, "1", Map("csv" -> csv.toString, "day" -> day.toString) ++ extra,
      previous.map("previous" -> _).toMap)

  /** Build (or find in the job cache) one day; with `urd` (Urd, key) the
    * previous day is wired by BuildChained. A day that must be a cache hit
    * passes `mustHit`, and its body then throws instead of building.
    */
  def build(r: Run, runner: JobRunner, req: JobRequest, mustHit: Boolean = false,
      urd: Option[(Urd, String)] = None): JobResult =
    r.spans.withSpan("jobs.JobRunner.build") { s =>
      val body: JobContext => Map[String, String] = { ctx =>
        val req = ctx.request
        if (mustHit) throw new Mismatch(s"job cache miss for ${req.options}")
        val prevSnap = req.inputs.get("previous").filter(_.nonEmpty)
          .map(j => runner.matchJob(j).outputs("typed"))
        val imp = r.spans("ops.CsvImport")(
          CsvImport(r.spark, req.options("csv"), CsvImportConfig(allowBad = true)))
        if (r.injectNow("throw")) throw new IllegalStateException("injected failure inside the day job")
        val typed = r.spans("ops.DatasetType")(
          DatasetType(imp.data, Gen.Types, filterBad = true, hashlabel = Some("key")))
        val snap = r.spans("core.SnapshotStore.write")(
          ctx.store.write(typed.good, ctx.snapshotName("typed"), hashlabel = Some("key"),
            previous = prevSnap))
        if (r.spans.on)
          r.spans.count("core.SnapshotStore.write.bytes_written", Run.du(java.nio.file.Paths.get(snap.dir)).toDouble)
        rejected(ctx.jobid) = (imp.bad, typed.bad)
        Map("typed" -> snap.meta.name, "lines" -> snap.meta.lines.toString)
      }
      val res = urd match {
        case Some((u, key)) => BuildChained(runner, u, key, "day", req)(body)
        case None           => runner.build(req)(body)
      }
      s.attrs("hit") = if (res.cached) 1.0 else 0.0
      res
    }

  /** Rows each built day rejected, (CsvImport bad, DatasetType bad), kept
    * by job id to be counted by the checks, outside the timed window.
    */
  private val rejected = scala.collection.mutable.Map.empty[String, (DataFrame, DataFrame)]

  /** A built day's typed and rejected row counts against the generator's. */
  def checkOutputs(r: Run, res: JobResult, want: DayStats): Unit = {
    r.checkEq(s"${res.jobid} good rows", res.output("lines").toLong, want.good)
    rejected.remove(res.jobid).foreach { case (csvBad, typeBad) =>
      val (nCsv, nType) = (csvBad.count(), typeBad.count())
      r.checkEq(s"${res.jobid} csv bad lines", nCsv, want.csvBad)
      r.checkEq(s"${res.jobid} type bad rows", nType, want.typeBad)
      r.spans.count("ops.CsvImport.rows", (want.good + nType + nCsv).toDouble)
      r.spans.count("ops.CsvImport.bad_rows", nCsv.toDouble)
    }
  }

  def store(r: Run, root: Path): SnapshotStore = new SnapshotStore(r.spark, root.resolve("store").toString)
}
