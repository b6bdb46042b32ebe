package graft.jobs

import graft.core.{JsonLite, Snapshot, SnapshotStore}
import graft.core.JsonLite.quote
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** Content-addressed job memoization — the reference's headline feature
  * ("re-runs a job only if code or params changed").
  *
  * Semantics carried over from the reference:
  *  - a build request is (method, version, options, inputs); the workdir
  *    database is matched EXACTLY on the full request
  *    (dependency.py:67-128 via database.py:176-181 `match_exact` — the
  *    newest finished job with an identical param set is linked instead of
  *    built).
  *  - the reference keys on a hash of the method's source
  *    (methods.py:48-135); we key on an explicit `version` string
  *    (SURVEY §7.4: Scala methods are compiled, so versions are pinned,
  *    with `equivalentVersions` standing in for `equivalent_hashes`,
  *    OVERVIEW.txt:49-64).
  *  - `forceBuild` bypasses matching (setup['force_build']).
  *  - `whyBuild` reports, per candidate job of the same method, which
  *    params differ (dependency.py:35-65 find_possible_jobs/optdiff).
  *  - each job directory holds `setup.json` (the request) and, once
  *    finished, `post.json` (outputs) — unfinished jobs never match
  *    (the reference only databases jobs with valid post.json).
  *
  * Scale note: this layer is pure driver-side bookkeeping (O(jobs) tiny
  * JSON files); the data work inside a job is ordinary distributed Spark.
  * Skipping a finished job skips its entire cluster cost — at 100 TB this
  * is the single biggest "optimization" in the system, exactly as in the
  * reference.
  */
final case class JobRequest(
    method: String,
    version: String = "1",
    options: Map[String, String] = Map.empty,
    inputs: Map[String, String] = Map.empty) {

  /** Canonical identity string: sorted keys, unit-separator framing —
    * equal requests ⇔ equal strings.
    */
  def canonical: String = {
    def m(kv: Map[String, String]) =
      kv.toSeq.sorted.map { case (k, v) => s"$k\u0001$v" }.mkString("\u0002")
    s"$method\u0000$version\u0000${m(options)}\u0000${m(inputs)}"
  }

  def key: String = JobRequest.sha256(canonical)
}

object JobRequest {
  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

final case class JobRecord(
    jobid: String,
    request: JobRequest,
    outputs: Map[String, String],
    finished: Boolean)

final case class JobResult(jobid: String, cached: Boolean, outputs: Map[String, String]) {
  def output(name: String): String = outputs(name)
}

/** Handle given to a job body: resolve inputs, write output snapshots with
  * job-scoped names (immutability: a snapshot belongs to exactly one job).
  */
final class JobContext(
    val store: SnapshotStore,
    val jobid: String,
    val request: JobRequest,
    jobDir: java.nio.file.Path) {
  def spark = store.spark
  def input(name: String): Snapshot = store.get(request.inputs(name))
  /** Job-scoped snapshot name (reference: datasets live inside their job
    * dir, `jobid/name`).
    */
  def snapshotName(local: String): String = s"$jobid.$local"

  /** Non-dataset result artifact in the job dir (the reference's
    * blob.save, extras.py:88-133; read back via JobRunner.artifact —
    * job.load, job.py:141-148). JSON/text, not pickles: artifacts should
    * be readable by anything.
    */
  def saveArtifact(name: String, content: String): Unit =
    Files.writeString(jobDir.resolve(s"artifact_$name"), content)
}

final class JobRunner(
    val store: SnapshotStore,
    val root: String,
    val equivalentVersions: Map[String, Seq[String]] = Map.empty) {
  Files.createDirectories(Paths.get(root))

  private def jobDir(jobid: String) = Paths.get(root, jobid)

  /** In-memory DB of finished jobs, newest first per method — rebuilt from
    * the job dirs at startup (reference database.py update_workspace).
    */
  private var db: List[JobRecord] = JobRunner.loadAll(root)

  private def versionsOk(reqV: String, jobV: String): Boolean =
    reqV == jobV || equivalentVersions.getOrElse(reqV, Nil).contains(jobV)

  /** Look up a job by id (reference: job objects resolve their own
    * artifacts; consumers use this to fetch a dependency's outputs).
    */
  def matchJob(jobid: String): JobRecord =
    db.find(_.jobid == jobid)
      .getOrElse(sys.error(s"jobs: no such job $jobid"))

  /** Read a finished job's artifact (reference job.load). */
  def artifact(jobid: String, name: String): String =
    Files.readString(jobDir(jobid).resolve(s"artifact_$name"))

  def artifactNames(jobid: String): Seq[String] =
    SnapshotStore.withPaths(Files.list(jobDir(jobid)))(
      _.map(_.getFileName.toString).filter(_.startsWith("artifact_"))
        .map(_.stripPrefix("artifact_")).toSeq.sorted)

  /** Newest finished job whose request matches exactly (modulo equivalent
    * versions).
    */
  def matchExact(req: JobRequest): Option[JobRecord] =
    db.find { r =>
      r.finished && r.request.method == req.method &&
      versionsOk(req.version, r.request.version) &&
      r.request.options == req.options && r.request.inputs == req.inputs
    }

  /** Per-candidate param diff for jobs of the same method — the
    * `why_build` explanation (dependency.py:35-65).
    */
  def whyBuild(req: JobRequest): Map[String, Map[String, (Option[String], Option[String])]] =
    db.filter(r => r.finished && r.request.method == req.method).map { r =>
      // options and inputs are SEPARATE namespaces (matchExact compares
      // them separately) — diff them under distinct key prefixes, or a key
      // moved between them (or present in both) reports "no difference"
      // while the job still rebuilds
      def diff(prefix: String, mine: Map[String, String],
               theirs: Map[String, String]) =
        (mine.keySet ++ theirs.keySet).toSeq.sorted.flatMap { k =>
          if (mine.get(k) == theirs.get(k)) None
          else Some(s"$prefix$k" -> (theirs.get(k), mine.get(k)))
        }
      r.jobid -> (diff("options.", req.options, r.request.options) ++
        diff("inputs.", req.inputs, r.request.inputs)).toMap
    }.toMap

  private def allocate(): String = {
    val used = SnapshotStore.withPaths(Files.list(Paths.get(root)))(
      _.map(_.getFileName.toString).filter(_.startsWith("j-"))
        .flatMap(s => s.stripPrefix("j-").toIntOption).toSeq)
    f"j-${(used.maxOption.getOrElse(-1) + 1)}%04d"
  }

  private def jmap(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"${quote(k)}:${quote(v)}" }
      .mkString("{", ",", "}")

  /** Build or reuse: returns the finished job satisfying `req`, running
    * `body` only when no exact match exists (or forceBuild).
    */
  def build(req: JobRequest, forceBuild: Boolean = false)
           (body: JobContext => Map[String, String]): JobResult = {
    if (!forceBuild) {
      matchExact(req) match {
        case Some(r) => return JobResult(r.jobid, cached = true, r.outputs)
        case None    =>
      }
    }
    val jobid = allocate()
    val dir = jobDir(jobid)
    Files.createDirectories(dir)
    SnapshotStore.writeAtomically(dir.resolve("setup.json"),
      s"""{"method":${quote(req.method)},"version":${quote(req.version)},""" +
      s""""options":${jmap(req.options)},"inputs":${jmap(req.inputs)}}""")
    val ctx = new JobContext(store, jobid, req, dir)
    val outputs = body(ctx)
    SnapshotStore.writeAtomically(dir.resolve("post.json"),
      s"""{"outputs":${jmap(outputs)}}""")
    db = JobRecord(jobid, req, outputs, finished = true) :: db
    JobResult(jobid, cached = false, outputs)
  }
}

object JobRunner {
  /** Every job dir under `root` with a readable `setup.json`, newest
    * first (reference database.py update_workspace).
    */
  def loadAll(root: String): List[JobRecord] = {
    val dirs = SnapshotStore.withPaths(Files.list(Paths.get(root)))(
      _.filter(p => Files.exists(p.resolve("setup.json"))).toSeq)
    def smap(x: Any): Map[String, String] =
      x.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString }
    // a setup.json or post.json that does not parse (a torn write, a
    // truncated copy) must not make the whole jobs root unopenable: a job
    // without a readable request is left out (allocate still counts its
    // id, so the id is never reused), one without readable outputs is
    // unfinished — neither ever matches, and the same request rebuilds
    // under a new job id
    dirs.flatMap { d =>
      scala.util.Try {
        val setup = JsonLite.parse(Files.readString(d.resolve("setup.json")))
          .asInstanceOf[Map[String, Any]]
        JobRequest(setup("method").toString, setup("version").toString,
          smap(setup("options")), smap(setup("inputs")))
      }.toOption.map { req =>
        val outputs = scala.util.Try(smap(JsonLite.parse(
          Files.readString(d.resolve("post.json")))
          .asInstanceOf[Map[String, Any]]("outputs"))).toOption
        JobRecord(d.getFileName.toString, req,
          outputs.getOrElse(Map.empty), finished = outputs.isDefined)
      }
      // numeric sort: lexicographic jobid order breaks past j-9999 (the
      // %04d width overflows and j-10000 would sort before j-9999); a
      // non-canonical dir name (j-0007.bak with a setup.json) must not
      // crash the whole jobs root — sort it oldest
    }.sortBy(_.jobid.stripPrefix("j-").toIntOption.getOrElse(-1)).reverse.toList
  }
}
