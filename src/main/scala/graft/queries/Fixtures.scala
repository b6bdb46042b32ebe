package graft.queries

import org.apache.spark.sql.SparkSession
import graft.core.SnapshotStore
import graft.jobs.{JobRequest, JobRunner}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** Memoized construction of oracle-query fixtures through the JobRunner
  * job cache — dogfooding the reference's own headline feature ("re-run a
  * job only if code or params changed", dependency.py:67-128) on our own
  * test fixtures.
  *
  * Why: the op-pack queries build multi-snapshot chains / CSV files /
  * media blobs before exercising the operator under test. Rebuilding them
  * on every invocation (a) buries the operator's plan cost under fixture
  * I/O in the bench (round 4 drifted +9.8% with zero plan changes, all of
  * it fixture noise) and (b) repeats identical work across Verify → Bench
  * runs. Here each fixture is a (method, params, inputs) job: built once,
  * reused as long as nothing relevant changed.
  *
  * Staleness safety — the cache key includes:
  *  - the sf dir path AND a fingerprint of its parquet files
  *    (name/size/mtime), so regenerated testdata rebuilds fixtures;
  *  - a content fingerprint of the compiled graft classes, so ANY
  *    recompile that changes bytecode rebuilds every fixture. Over-invalidation by design: a stale fixture would
  *    silently weaken the correctness gate, a rebuilt one only costs
  *    seconds. Within one compile (Verify run + Bench warmup + Bench timed
  *    pass) everything hits.
  */
object Fixtures {

  private val lock = new Object

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Fingerprint of all files under `dir` (recursive): relative path, size,
    * mtime. Cached per path for the JVM's lifetime.
    */
  private val fpCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dirFingerprint(dir: String): String =
    fpCache.computeIfAbsent(dir, { d =>
      val root = Paths.get(d)
      if (!Files.exists(root)) "absent"
      else {
        val entries = SnapshotStore.withPaths(Files.walk(root))(
          _.filter(Files.isRegularFile(_))
            .map(p => s"${root.relativize(p)}\u0001${Files.size(p)}\u0001" +
              s"${Files.getLastModifiedTime(p).toMillis}")
            .toSeq.sorted)
        sha256(entries.mkString("\u0002"))
      }
    })

  /** Fingerprint of the compiled graft code: the classes dir or jar this
    * class was loaded from. CONTENT-based, not path/mtime-based — sbt
    * runMain repackages the classes into a fresh jar under target/bg-jobs
    * on every invocation, so path or mtime would never match across runs.
    * For a jar: sorted (entry name, size, CRC32) straight from the zip
    * directory (no decompression); for a classes dir: sorted
    * (relpath, size, content-CRC32). Computed once per JVM.
    */
  private lazy val codeFingerprint: String = {
    val loc = getClass.getProtectionDomain.getCodeSource
    if (loc == null || loc.getLocation == null) "unknown"
    else {
      val p = Paths.get(loc.getLocation.toURI)
      val entries =
        if (Files.isRegularFile(p)) { // jar
          val zf = new java.util.zip.ZipFile(p.toFile)
          try zf.entries().asScala.filterNot(_.isDirectory)
            .map(e => s"${e.getName}${e.getSize}${e.getCrc}").toSeq.sorted
          finally zf.close()
        } else {
          SnapshotStore.withPaths(Files.walk(p))(
            _.filter(Files.isRegularFile(_)).map { f =>
              val crc = new java.util.zip.CRC32()
              crc.update(Files.readAllBytes(f))
              s"${p.relativize(f)}${Files.size(f)}${crc.getValue}"
            }.toSeq.sorted)
        }
      sha256(entries.mkString(""))
    }
  }

  private def tag(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_").replaceAll("^_+", "")

  private def base(dir: String): String =
    s"${sys.props("user.dir")}/target/qtmp/fixcache/${tag(dir)}"

  /** Scratch dir for file-producing fixtures (CSV/zip inputs). Stable
    * across runs so cached jobs' output paths stay valid.
    */
  def filesDir(dir: String, method: String): String = {
    val d = s"${base(dir)}/files/$method"
    Files.createDirectories(Paths.get(d))
    d
  }

  /** Build-or-reuse fixture `method` for scale dir `dir`. The body writes
    * snapshots into the shared per-sf store (use names prefixed uniquely
    * per method) and/or files under `filesDir(dir, method)`, returning
    * name→value outputs. Returns (store, outputs) — on a cache hit the
    * body never runs.
    */
  def apply(s: SparkSession, dir: String, method: String,
            params: Map[String, String] = Map.empty)
           (build: SnapshotStore => Map[String, String]): (SnapshotStore, Map[String, String]) =
    lock.synchronized {
      val b = base(dir)
      val store = new SnapshotStore(s, s"$b/store")
      val runner = new JobRunner(store, s"$b/jobs")
      val req = JobRequest(method, version = "1", options = params,
        inputs = Map("sf" -> dir, "data" -> dirFingerprint(dir),
          "code" -> codeFingerprint))
      val res = runner.build(req)(_ => build(store))
      (store, res.outputs)
    }
}
