package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{SnapshotStore, Tables}
import graft.jobs._
import java.nio.file.{Files, Paths}

/** Oracle-checked queries for the job/build layer: content-addressed
  * memoization (build twice ⇒ second run links every job; change a param ⇒
  * rebuild propagates through dependent jobs) and the urd-driven
  * incremental-chain idiom (build_chained + truncate + replay).
  *
  * The invariants are emitted as (invariant, ok) rows so the driver's
  * DuckDB compare hash-verifies them — not just require()s that could be
  * deleted.
  */
object JobsPack {

  private def freshDir(sub: String): String = {
    val d = Paths.get(s"${sys.props("user.dir")}/target/qtmp/$sub")
    if (Files.exists(d))
      SnapshotStore.withPaths(Files.walk(d))(
        _.toSeq.reverse.foreach(Files.deleteIfExists(_)))
    Files.createDirectories(d)
    d.toString
  }

  /** Orders slice importer used by both queries: filter a date range and
    * snapshot it (optionally chained to `previous`).
    */
  private def importOrders(runner: JobRunner, dir: String,
                           from: String, to: String,
                           previous: Map[String, String] = Map.empty,
                           force: Boolean = false): JobResult =
    runner.build(JobRequest("import_orders", "1",
      options = Map("from" -> from, "to" -> to, "sfDir" -> dir),
      inputs = previous), forceBuild = force) { ctx =>
      val prevSnap = ctx.request.inputs.get("previous").filter(_.nonEmpty)
        .map(jid => runner.matchJob(jid).outputs("default"))
      val df = Tables.orders(ctx.spark, dir)
        .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
                col("o_orderdate") < lit(to).cast("timestamp"))
      val snap = ctx.store.write(df, ctx.snapshotName("default"),
        previous = prevSnap, slices = 4)
      Map("default" -> snap.meta.name)
    }

  private def aggVolume(runner: JobRunner, src: JobResult): JobResult =
    runner.build(JobRequest("agg_volume", "1",
      inputs = Map("src" -> src.output("default")))) { ctx =>
      val df = ctx.store.get(ctx.request.inputs("src")).read(ctx.spark)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      val snap = ctx.store.write(df, ctx.snapshotName("default"), slices = 1)
      Map("default" -> snap.meta.name)
    }

  /** Build a 2-job pipeline twice (second pass must link, not run), then
    * change a param (rebuild must propagate), plus why_build and
    * force_build behavior.
    */
  def jobMemoization(s: SparkSession, dir: String): DataFrame = {
    val root = freshDir("jobs_memo")
    val store = new SnapshotStore(s, s"$root/store")
    val runner = new JobRunner(store, s"$root/jobs")

    val a1 = importOrders(runner, dir, "1994-01-01", "1996-01-01")
    val b1 = aggVolume(runner, a1)
    val a2 = importOrders(runner, dir, "1994-01-01", "1996-01-01")
    val b2 = aggVolume(runner, a2)
    val whyReq = JobRequest("import_orders", "1",
      options = Map("from" -> "1994-01-01", "to" -> "1997-01-01", "sfDir" -> dir))
    val why = runner.whyBuild(whyReq)
    val a3 = importOrders(runner, dir, "1994-01-01", "1997-01-01")
    val b3 = aggVolume(runner, a3)
    val a4 = importOrders(runner, dir, "1994-01-01", "1996-01-01", force = true)

    val checks = Seq(
      "first_run_builds" -> (!a1.cached && !b1.cached),
      "second_run_links_all" -> (a2.cached && b2.cached),
      "second_run_same_jobids" -> (a2.jobid == a1.jobid && b2.jobid == b1.jobid),
      "changed_param_rebuilds" -> (!a3.cached),
      "rebuild_propagates_downstream" -> (!b3.cached && b3.jobid != b1.jobid),
      "why_build_names_changed_param" ->
        why.get(a1.jobid).exists(d => d.keySet == Set("options.to")),
      "force_build_reruns" -> (!a4.cached && a4.jobid != a1.jobid),
      "outputs_nonempty" -> (store.get(b1.output("default")).meta.lines > 0),
    )
    import s.implicits._
    checks.toDF("invariant", "ok")
  }

  /** Three "daily" chained builds driven by urd (build_chained wires
    * `previous` from the latest session), then truncate + replay: every
    * job links, the timeline serves latest/since correctly, and the final
    * chain aggregates to exactly the plain-SQL answer.
    */
  def urdChainReplay(s: SparkSession, dir: String): DataFrame = {
    val root = freshDir("jobs_urd")
    val store = new SnapshotStore(s, s"$root/store")
    val runner = new JobRunner(store, s"$root/jobs")
    val urd = new Urd(s"$root/urd.log")
    val key = "test/orders"
    val days = Seq(
      ("1994-01-01", "1995-01-01"),
      ("1995-01-01", "1996-01-01"),
      ("1996-01-01", "1997-01-01"))

    def buildDay(from: String, to: String): JobResult = {
      val r = BuildChained(runner, urd, key, "orders",
        JobRequest("import_orders", "1",
          options = Map("from" -> from, "to" -> to, "sfDir" -> dir))) { ctx =>
        val prevSnap = ctx.request.inputs.get("previous").filter(_.nonEmpty)
          .map(jid => runner.matchJob(jid).outputs("default"))
        val df = Tables.orders(ctx.spark, dir)
          .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
                  col("o_orderdate") < lit(to).cast("timestamp"))
        val snap = ctx.store.write(df, ctx.snapshotName("default"),
          previous = prevSnap, slices = 4)
        Map("default" -> snap.meta.name)
      }
      urd.add(key, from, Seq("orders" -> r.jobid))
      r
    }

    val pass1 = days.map { case (f, t) => buildDay(f, t) }
    require(pass1.forall(!_.cached), "urd pass1 must build")
    require(urd.since(key, days.head._1).map(_.timestamp) ==
      days.tail.map(_._1), "urd since mismatch")
    require(urd.first(key).map(_.timestamp).contains(days.head._1))

    // truncate the whole timeline, replay: every build must LINK (the job
    // cache is content-addressed, urd only re-records the sessions)
    urd.truncate(key, days.head._1)
    require(urd.latest(key).isEmpty, "truncate must ghost all entries")
    val pass2 = days.map { case (f, t) => buildDay(f, t) }
    require(pass2.forall(_.cached), "urd replay must link every job")
    require(pass2.map(_.jobid) == pass1.map(_.jobid), "replay jobid mismatch")
    require(urd.latest(key).map(_.timestamp).contains(days.last._1))

    val finalSnap = runner.matchJob(pass2.last.jobid).outputs("default")
    store.iterateChain(finalSnap,
        columns = Seq("o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus"),
        range = Some(("o_orderdate", "1995-06-01", "1996-06-01")))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
           sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("volume"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "job_memoization" -> jobMemoization _,
    "urd_chain_replay" -> urdChainReplay _,
  )

  val oracle: Map[String, String] = Map(
    "job_memoization" ->
      Seq("first_run_builds", "second_run_links_all", "second_run_same_jobids",
          "changed_param_rebuilds", "rebuild_propagates_downstream",
          "why_build_names_changed_param", "force_build_reruns",
          "outputs_nonempty")
        .map(n => s"SELECT '$n' AS invariant, true AS ok")
        .mkString(" UNION ALL "),
    "urd_chain_replay" ->
      """SELECT o_orderstatus, count(*) AS n,
         CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS volume
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-06-01'
           AND o_orderdate < TIMESTAMP '1996-06-01'
         GROUP BY o_orderstatus""",
  )
}
