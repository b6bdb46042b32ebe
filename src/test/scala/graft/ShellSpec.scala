package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cli.Shell
import graft.core.SnapshotStore
import TestSpark.{spark, tmpDir}

/** Shell CLI building blocks (ds/cat/grep over the snapshot store). */
class ShellSpec extends AnyFunSuite {

  private def store(): SnapshotStore = {
    val s = spark
    import s.implicits._
    val st = new SnapshotStore(s, tmpDir("shell"))
    st.write(Seq((1L, "alpha", 10.0), (2L, "beta", 20.0), (3L, "gamma", 30.0))
      .toDF("id", "name", "score"), "sh_a", hashlabel = Some("id"), slices = 2)
    st.write(Seq((4L, "delta", 40.0)).toDF("id", "name", "score"), "sh_b",
      previous = Some("sh_a"), slices = 2)
    st
  }

  test("ds prints schema, lines, chain, hashlabel and minmax") {
    val info = Shell.dsInfo(store(), "sh_b")
    assert(info.contains("sh_b"))
    assert(info.contains("previous  sh_a"))
    assert(info.contains("chain: 4"))
    assert(info.contains("id") && info.contains("[4 .. 4]"))
  }

  test("cat projects, limits and walks chains") {
    val st = store()
    val rows = Shell.catDf(st,
      Shell.Args(st.root, "sh_b", Seq("id", "name"), chain = -1))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(1L, 2L, 3L, 4L))
    val limited = Shell.catDf(st,
      Shell.Args(st.root, "sh_b", Seq("id"), limit = 1))
    assert(limited.count() == 1)
  }

  test("dataset ref idioms: ~N chain walk and ^ parent") {
    val st = store()
    assert(Shell.resolveRef(st, "sh_b~") == "sh_a")
    assert(Shell.resolveRef(st, "sh_b~1") == "sh_a")
    assert(Shell.resolveRef(st, "sh_b") == "sh_b")
    // parent hop
    val s = spark
    import s.implicits._
    st.write(st.withRowId(Seq((1L, "x")).toDF("k", "v")), "sh_par", slices = 1)
    st.appendColumns("sh_par", "sh_kid") { p =>
      p.select(org.apache.spark.sql.functions.col(
        graft.core.SnapshotStore.RowIdName),
        (org.apache.spark.sql.functions.col("k") + 1).as("k1"))
    }
    assert(Shell.resolveRef(st, "sh_kid^") == "sh_par")
  }

  test("job and urd introspection") {
    val root = tmpDir("shell_jobs")
    val st = new SnapshotStore(spark, s"$root/store")
    val runner = new graft.jobs.JobRunner(st, s"$root/jobs")
    val r = runner.build(graft.jobs.JobRequest("m", "1", Map("o" -> "x"))) { ctx =>
      ctx.saveArtifact("notes", "hello")
      Map("out" -> "v")
    }
    val info = Shell.jobInfo(s"$root/jobs", r.jobid)
    assert(info.contains("\"method\":\"m\"") && info.contains("artifacts notes"))

    val u = new graft.jobs.Urd(s"$root/urd.log")
    u.add("u/b", "2024-01-01", Seq("imp" -> r.jobid))
    assert(Shell.urdInfo(s"$root/urd.log", None, None).contains("u/b  (1 entries)"))
    assert(Shell.urdInfo(s"$root/urd.log", Some("u/b"), None).contains("2024-01-01"))
    assert(Shell.urdInfo(s"$root/urd.log", Some("u/b"), Some("2024-01-01"))
      .contains(r.jobid))
  }

  test("workdir lists snapshots; method summarizes jobs by method") {
    val st = store()
    val wd = Shell.workdirInfo(st)
    assert(wd.contains("sh_a") && wd.contains("sh_b"))
    assert(wd.contains("hash=id"), "hashlabel shown")
    assert(wd.contains("previous=sh_a"), "chain link shown")
    val root = tmpDir("shell_meth")
    val jobs = new graft.jobs.JobRunner(st, s"$root/jobs")
    jobs.build(graft.jobs.JobRequest("meth_x", "1")) { _ => Map.empty }
    jobs.build(graft.jobs.JobRequest("meth_x", "2")) { _ => Map.empty }
    jobs.build(graft.jobs.JobRequest("meth_y", "1")) { _ => Map.empty }
    val mi = Shell.methodInfo(s"$root/jobs")
    assert(mi.contains("meth_x") && mi.contains("2 jobs"))
    assert(mi.contains("versions 1,2"))
    assert(mi.contains("meth_y"))
  }

  test("method skips a job dir whose setup.json is truncated") {
    val root = tmpDir("shell_torn")
    val jobs = new graft.jobs.JobRunner(store(), s"$root/jobs")
    jobs.build(graft.jobs.JobRequest("meth_ok", "1")) { _ => Map.empty }
    val torn = java.nio.file.Paths.get(s"$root/jobs/j-0001")
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.writeString(torn.resolve("setup.json"),
      "{\"method\":\"meth_torn\",\"vers")
    val mi = Shell.methodInfo(s"$root/jobs")
    assert(mi.contains("meth_ok") && mi.contains("1 jobs"))
    assert(!mi.contains("meth_torn"))
  }

  test("grep filters rows by regex across selected columns") {
    val st = store()
    val hits = Shell.grepDf(st,
      Shell.Args(st.root, "sh_b", Nil, pattern = "a$", chain = -1))
      .collect().map(_.getString(1)).sorted.toSeq
    assert(hits == Seq("alpha", "beta", "delta", "gamma").filter(_.endsWith("a")))
    val byCol = Shell.grepDf(st,
      Shell.Args(st.root, "sh_b", Seq("id"), pattern = "^2$", chain = -1))
    assert(byCol.count() == 1)
  }

  test("grep -i matches case-insensitively") {
    val st = store()
    val none = Shell.grepDf(st,
      Shell.Args(st.root, "sh_a", Nil, pattern = "ALPHA"))
    assert(none.count() == 0)
    val hits = Shell.grepDf(st,
      Shell.Args(st.root, "sh_a", Nil, pattern = "ALPHA", ignoreCase = true))
      .collect().map(_.getString(1)).toSeq
    assert(hits == Seq("alpha"))
  }

  test("grep -g matches only the named columns while showing all") {
    val st = store()
    // "2" appears in id=2 AND in scores (20.0); -g id restricts matching
    val hits = Shell.grepDf(st,
      Shell.Args(st.root, "sh_a", Nil, pattern = "2", grepCols = Seq("id")))
      .collect().map(_.getLong(0)).toSeq
    assert(hits == Seq(2L))
    intercept[IllegalArgumentException] {
      Shell.grepDf(st,
        Shell.Args(st.root, "sh_a", Nil, pattern = "x", grepCols = Seq("nope")))
        .collect()
    }
  }

  test("-O orders by the explicit order column; errors without one") {
    val s = spark
    import s.implicits._
    val st = new SnapshotStore(s, tmpDir("shell_ord"))
    st.write(Seq((3L, "c", 0L), (1L, "a", 2L), (2L, "b", 1L))
      .toDF("id", "v", "lineno"), "so_a", slices = 2)
    val got = Shell.catDf(st,
      Shell.Args(st.root, "so_a", Seq("id"), ordered = true))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 2L, 1L), "rows come back in lineno order")
    // no lineno/__rowid → clear error, not silent arbitrary order
    st.write(Seq((1L, "x")).toDF("id", "v"), "so_b", slices = 1)
    val e = intercept[RuntimeException] {
      Shell.catDf(st, Shell.Args(st.root, "so_b", Nil, ordered = true)).collect()
    }
    assert(e.getMessage.contains("order column"))
  }

  test("-s restricts to the stored slice (bucket inspection on hashed stores)") {
    val s = spark
    import org.apache.spark.sql.functions.{col, hash, pmod}
    val st = store()
    // expected slice = the writer's routing: pmod(murmur3(id), slices) —
    // HashPartitioning.partitionIdExpression, same seed as functions.hash
    val want = st.readResolved("sh_a")
      .select(col("id"), pmod(hash(col("id")), org.apache.spark.sql.functions.lit(2)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 to 1).foreach { sl =>
      val got = Shell.catDf(st,
        Shell.Args(st.root, "sh_a", Seq("id"), slices = Seq(sl)))
        .collect().map(_.getLong(0)).toSet
      assert(got == want.collect { case (id, b) if b == sl => id }.toSet,
        s"-s $sl must return exactly the rows stored in bucket $sl")
    }
  }

  test("-s on a plain (unhashed) snapshot selects the stored part file") {
    val s = spark
    import s.implicits._
    val st = new SnapshotStore(s, tmpDir("shell_plain"))
    // repartition(2) writes two part files: part-00000 and part-00001
    st.write(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
      .repartition(2), "pp_a", slices = 2)
    val all = Shell.catDf(st, Shell.Args(st.root, "pp_a", Seq("k")))
      .collect().map(_.getLong(0)).toSet
    val s0 = Shell.catDf(st, Shell.Args(st.root, "pp_a", Seq("k"), slices = Seq(0)))
      .collect().map(_.getLong(0)).toSet
    val s1 = Shell.catDf(st, Shell.Args(st.root, "pp_a", Seq("k"), slices = Seq(1)))
      .collect().map(_.getLong(0)).toSet
    assert(s0.nonEmpty && s1.nonEmpty, "both part files hold rows")
    assert((s0 ++ s1) == all && s0.intersect(s1).isEmpty,
      s"part files partition the rows: $s0 / $s1")
  }

  test("grep -g matches on columns that are not displayed") {
    val st = store()
    val got = Shell.grepDf(st, Shell.Args(st.root, "sh_a", Seq("name"),
        pattern = "^2$", grepCols = Seq("id")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("beta"), s"match on hidden id=2, display name: $got")
    // unknown -g column is still a clear error
    val e = intercept[IllegalArgumentException] {
      Shell.grepDf(st, Shell.Args(st.root, "sh_a", Seq("name"),
        pattern = "x", grepCols = Seq("nope"))).collect()
    }
    assert(e.getMessage.contains("no such columns"))
  }

  test("init scaffolds a project root, idempotently, and it is usable") {
    import java.nio.file.{Files, Paths}
    val root = TestSpark.tmpDir("shell_init")
    val msg = Shell.init(root, slices = 4)
    assert(msg.contains("initialized"))
    assert(Files.isDirectory(Paths.get(root, "store")))
    assert(Files.isDirectory(Paths.get(root, "jobs")))
    assert(Files.exists(Paths.get(root, "urd.log")))
    val conf = Files.readString(Paths.get(root, "graft.conf"))
    assert(conf.contains("slices = 4"))
    assert(Shell.init(root, 8).contains("already initialized"),
      "re-init must not clobber an existing project")
    // the scaffold is a working store root
    val s = TestSpark.spark
    import s.implicits._
    val st = new graft.core.SnapshotStore(s, s"$root/store")
    st.write(Seq((1L, "x")).toDF("id", "name"), "t0", slices = 1)
    assert(st.readResolved("t0").count() == 1)
  }

  test("curl answers the urd API paths as JSON, including bounded timestamp lookups") {
    val root = tmpDir("shell_curl")
    val log = s"$root/urd.log"
    val u = new graft.jobs.Urd(log)
    u.add("ab/daily", "2024-04-01", Seq("import" -> "im-0"))
    u.add("ab/daily", "2024-04-10", Seq("import" -> "im-1"))
    u.add("ab/daily", "2024-05-02", Seq("import" -> "im-2"), caption = "may")
    u.add("cd/weekly", "2024-04-07", Seq("roll" -> "r-0"))

    assert(Shell.curlInfo(log, "list") == "[\"ab/daily\",\"cd/weekly\"]\n")
    assert(Shell.curlInfo(log, "ab/daily/latest").contains("\"timestamp\":\"2024-05-02\""))
    assert(Shell.curlInfo(log, "ab/daily/latest").contains("\"caption\":\"may\""))
    assert(Shell.curlInfo(log, "ab/daily/first").contains("2024-04-01"))
    assert(Shell.curlInfo(log, "ab/daily/since/2024-04-01")
      == "[\"2024-04-10\",\"2024-05-02\"]\n")
    assert(Shell.curlInfo(log, "ab/daily/2024-04-10").contains("im-1"))
    assert(Shell.curlInfo(log, "ab/daily/2024-04-11") == "null\n")
    // bounded lookups (urd limited_endpoint semantics)
    assert(Shell.curlInfo(log, "ab/daily/<2024-04-10").contains("2024-04-01"),
      "strictly-before picks the latest earlier entry")
    assert(Shell.curlInfo(log, "ab/daily/<=2024-04-10").contains("2024-04-10"))
    assert(Shell.curlInfo(log, "ab/daily/>2024-04-10").contains("2024-05-02"))
    assert(Shell.curlInfo(log, "ab/daily/>=2024-04-10").contains("2024-04-10"))
    // the date-prefix rule: 2024-04-10 <= bound 2024-04 because it extends it
    assert(Shell.curlInfo(log, "ab/daily/<=2024-04").contains("2024-04-10"))
    intercept[IllegalArgumentException] { Shell.curlInfo(log, "nope") }
  }

  test("script lists Build/Build_* objects with descriptions, filtered by match") {
    val listing = Shell.scriptInfo("graft.buildscripts")
    assert(listing.contains("Build") && listing.contains("demo default build script"))
    assert(listing.contains("Build_extra") && listing.contains("secondary demo script"))
    assert(!listing.contains("Helper"),
      s"only Build/Build_* objects are build scripts:\n$listing")
    // substring match against the fully-qualified name (reference semantics)
    val filtered = Shell.scriptInfo("graft.buildscripts", Seq("extra"))
    assert(filtered.contains("Build_extra") && !filtered.contains("demo default"))
    assert(Shell.scriptInfo("graft.buildscripts", Seq("nomatch"))
      .contains("no build scripts"))
    assert(Shell.scriptInfo("graft.no_such_pkg").contains("no build scripts"))
  }

  test("script -r launches a build script main by fully-qualified name") {
    graft.buildscripts.Build.lastArgs = null
    Shell.scriptLaunch("graft.buildscripts.Build", Array("alpha", "beta"))
    assert(graft.buildscripts.Build.lastArgs == List("alpha", "beta"),
      "launch must invoke the object's main with the remaining args")
    intercept[ClassNotFoundException] {
      Shell.scriptLaunch("graft.buildscripts.NoSuch", Array.empty)
    }
  }
}
