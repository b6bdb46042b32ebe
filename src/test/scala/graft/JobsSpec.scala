package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.SnapshotStore
import graft.jobs._
import TestSpark.{spark, tmpDir}

/** Job memoization + urd timeline unit semantics (the integration path is
  * the job_memoization / urd_chain_replay oracle queries).
  */
class JobsSpec extends AnyFunSuite {

  private def newRunner(sub: String): JobRunner = {
    val root = tmpDir(sub)
    new JobRunner(new SnapshotStore(spark, s"$root/store"), s"$root/jobs")
  }

  test("identical requests link, different options build") {
    val r = newRunner("jobs_link")
    var runs = 0
    def build(opt: String) =
      r.build(JobRequest("m", "1", Map("o" -> opt))) { _ => runs += 1; Map("out" -> opt) }
    val a = build("x")
    val b = build("x")
    val c = build("y")
    assert(!a.cached && b.cached && !c.cached)
    assert(a.jobid == b.jobid && a.jobid != c.jobid)
    assert(runs == 2)
    assert(b.output("out") == "x")
  }

  test("cache survives a new runner instance (disk-backed database)") {
    val root = tmpDir("jobs_disk")
    val store = new SnapshotStore(spark, s"$root/store")
    val r1 = new JobRunner(store, s"$root/jobs")
    val a = r1.build(JobRequest("m", "1", Map("o" -> "1"))) { _ => Map("out" -> "v") }
    val r2 = new JobRunner(store, s"$root/jobs")
    val b = r2.build(JobRequest("m", "1", Map("o" -> "1"))) { _ => fail("must not run"); Map() }
    assert(b.cached && b.jobid == a.jobid && b.output("out") == "v")
  }

  test("equivalent versions match like equivalent_hashes") {
    val root = tmpDir("jobs_equiv")
    val store = new SnapshotStore(spark, s"$root/store")
    val r1 = new JobRunner(store, s"$root/jobs")
    val a = r1.build(JobRequest("m", "1")) { _ => Map("out" -> "v1") }
    val r2 = new JobRunner(store, s"$root/jobs",
      equivalentVersions = Map("2" -> Seq("1")))
    val b = r2.build(JobRequest("m", "2")) { _ => fail("must link v1"); Map() }
    assert(b.cached && b.jobid == a.jobid)
    val r3 = new JobRunner(store, s"$root/jobs")
    val c = r3.build(JobRequest("m", "2")) { _ => Map("out" -> "v2") }
    assert(!c.cached, "without the equivalence declaration version 2 rebuilds")
  }

  test("why_build diffs params per candidate job") {
    val r = newRunner("jobs_why")
    val a = r.build(JobRequest("m", "1", Map("x" -> "1", "y" -> "2"))) { _ => Map() }
    val why = r.whyBuild(JobRequest("m", "1", Map("x" -> "1", "y" -> "3")))
    assert(why(a.jobid) == Map("options.y" -> (Some("2"), Some("3"))))
    // options and inputs are distinct namespaces: the same key moved
    // between them must NOT cancel out in the diff
    val moved = r.whyBuild(JobRequest("m", "1", inputs = Map("x" -> "1", "y" -> "2")))
    assert(moved(a.jobid).keySet ==
      Set("options.x", "options.y", "inputs.x", "inputs.y"))
  }

  test("artifacts: jobs save non-dataset results, consumers load them") {
    val r = newRunner("jobs_art")
    val a = r.build(JobRequest("stats", "1", Map("o" -> "x"))) { ctx =>
      ctx.saveArtifact("summary", """{"rows": 42}""")
      Map()
    }
    assert(r.artifact(a.jobid, "summary") == """{"rows": 42}""")
    assert(r.artifactNames(a.jobid) == Seq("summary"))
  }

  test("subjobs: builds nested inside a job body memoize independently") {
    val r = newRunner("jobs_sub")
    var subRuns = 0
    def outer(opt: String) = r.build(JobRequest("outer", "1", Map("o" -> opt))) { _ =>
      // reference subjobs.build (subjobs.py:33-65): a job builds child
      // jobs; the children hit the same content-addressed cache
      val child = r.build(JobRequest("child", "1", Map("c" -> "fixed"))) { _ =>
        subRuns += 1; Map("out" -> "sub")
      }
      Map("childJob" -> child.jobid)
    }
    val a = outer("1")
    val b = outer("2")
    assert(!a.cached && !b.cached, "outer jobs differ in options")
    assert(subRuns == 1, "the shared child job must build once")
    assert(a.output("childJob") == b.output("childJob"))
  }

  test("urd: add/get/latest/first/since/truncate and disk replay") {
    val root = tmpDir("urd_unit")
    val u = new Urd(s"$root/urd.log")
    u.add("u/b", "2024-01-01", Seq("imp" -> "j-0000"))
    u.add("u/b", "2024-01-02", Seq("imp" -> "j-0001"))
    u.add("u/b", "2024-01-03", Seq("imp" -> "j-0002"))
    assert(u.latest("u/b").map(_.timestamp).contains("2024-01-03"))
    assert(u.first("u/b").map(_.timestamp).contains("2024-01-01"))
    assert(u.since("u/b", "2024-01-01").map(_.timestamp) ==
      Seq("2024-01-02", "2024-01-03"))
    assert(u.previousFor("u/b", "imp").contains("j-0002"))
    u.truncate("u/b", "2024-01-03")
    assert(u.latest("u/b").map(_.timestamp).contains("2024-01-02"))
    // replay from disk: ghosts stay ghosted, live entries come back
    val u2 = new Urd(s"$root/urd.log")
    assert(u2.timestamps("u/b") == Seq("2024-01-01", "2024-01-02"))
    // timestamps must increase
    intercept[IllegalArgumentException] {
      u2.add("u/b", "2024-01-01", Seq("imp" -> "j-0009"))
    }
  }

  test("JSON escaping round-trips through setup.json, urd.log and meta.json") {
    // quote, backslash, newline, tab, CR and a C0 control: every class the
    // one escaper (JsonLite.quote) rewrites
    val hostile = "a\"b\\c\nd\te\rf\u0001g"
    val root = tmpDir("jobs_json_roundtrip")
    val store = new SnapshotStore(spark, s"$root/store")
    val req = JobRequest("m" + hostile, hostile, Map(hostile -> hostile),
      Map("in" -> hostile))
    val a = new JobRunner(store, s"$root/jobs").build(req) { _ => Map("out" -> hostile) }
    val hit = new JobRunner(store, s"$root/jobs").matchExact(req)
    assert(hit.map(_.jobid).contains(a.jobid), "reopened runner must match setup.json exactly")
    assert(hit.get.outputs == Map("out" -> hostile))
    val u = new Urd(s"$root/urd.log")
    val e = u.add("u/" + hostile, "2024-01-01", Seq(hostile -> hostile), caption = hostile)
    assert(new Urd(s"$root/urd.log").get(e.key, e.timestamp).contains(e))
    store.write(spark.range(3).toDF("k"), "rt", slices = 1, caption = hostile)
    assert(new SnapshotStore(spark, s"$root/store").get("rt").meta.caption == hostile)
  }

  test("a truncated post.json leaves its job unfinished, not the workdir unopenable") {
    val root = tmpDir("jobs_torn_post")
    val store = new SnapshotStore(spark, s"$root/store")
    val req = JobRequest("m", "1", Map("o" -> "1"))
    val a = new JobRunner(store, s"$root/jobs").build(req) { _ => Map("out" -> "v") }
    val post = java.nio.file.Paths.get(s"$root/jobs", a.jobid, "post.json")
    val text = java.nio.file.Files.readString(post)
    java.nio.file.Files.writeString(post, text.take(text.length / 2))
    val r = new JobRunner(store, s"$root/jobs")
    assert(r.matchExact(req).isEmpty)
    val b = r.build(req) { _ => Map("out" -> "w") }
    assert(!b.cached && b.jobid != a.jobid && b.output("out") == "w")
  }

  test("a truncated setup.json leaves the workdir openable and its request rebuildable") {
    val root = tmpDir("jobs_torn_setup")
    val store = new SnapshotStore(spark, s"$root/store")
    val reqA = JobRequest("m", "1", Map("o" -> "a"))
    val reqB = JobRequest("m", "1", Map("o" -> "b"))
    val r0 = new JobRunner(store, s"$root/jobs")
    val a = r0.build(reqA) { _ => Map("out" -> "a") }
    val b = r0.build(reqB) { _ => Map("out" -> "b") }
    val setup = java.nio.file.Paths.get(s"$root/jobs", a.jobid, "setup.json")
    val text = java.nio.file.Files.readString(setup)
    java.nio.file.Files.writeString(setup, text.take(text.length / 2))
    val r = new JobRunner(store, s"$root/jobs")
    assert(r.matchExact(reqB).map(_.jobid).contains(b.jobid), "the other jobs still match")
    assert(r.matchExact(reqA).isEmpty)
    val a2 = r.build(reqA) { _ => Map("out" -> "a2") }
    assert(!a2.cached && a2.output("out") == "a2")
    assert(!Set(a.jobid, b.jobid).contains(a2.jobid), "the torn job's id is not reused")
  }
}
