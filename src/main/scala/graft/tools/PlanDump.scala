package graft.tools

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dump query plans for declared queries to files.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [prefixes] [exec]
  *   - writes <outDir>/<query>_<suffix>.txt per query
  *   - [prefixes]: comma-separated query-name prefixes (default: all)
  *   - [exec]: the literal word "exec" — RUN each query (noop sink, the
  *     bench action) first and dump the post-execution plan, so
  *     `AdaptiveSparkPlan` renders its FINAL runtime plan
  *     (isFinalPlan=true) including AQE join-strategy rewrites that a
  *     static `.explain` cannot show (VERDICT r20 item 2). Without it the
  *     dump is the static initial plan, as before.
  *
  * Building a query's DataFrame may run its memoized fixture jobs (same
  * as Verify); a static explain plans without executing the query.
  *
  * Every dump is [[mask]]ed, so two checkouts of the same code dump the
  * same text whether their fixture caches were warm or cold.
  *
  * Exits non-zero when any query failed to dump (ADVICE r20: a silent
  * partial dump set reads as "no plan change" to a diff harness), and
  * catches NonFatal only so OOM/interrupt propagate.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val opts = args.drop(3)
    val exec = opts.contains("exec")
    val keep: String => Boolean = opts.filterNot(_ == "exec").headOption match {
      case Some(p) => val ps = p.split(','); n => ps.exists(n.startsWith)
      case None => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Executing through df's own QueryExecution (not a write's) is
        // what makes the SAME plan object adaptive-final for the dump.
        if (exec) df.queryExecution.toRdd.foreach(_ => ())
        val txt = mask(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        System.err.println(s"[plandump] $name ok")
      } catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[plandump] $failed queries failed to dump")
      sys.exit(1)
    }
  }

  /** Replace what differs from run to run in a plan's text: expression ids
    * (`doc_id#42L`; a cold fixture cache builds fixtures first and shifts
    * every id), `plan_id=` counters, bucket-table names (a hash of the
    * data directory, see `SnapshotStore.bucketTable`), the checkout
    * directory that fixture paths start with, object identity hashes
    * (`[J@1dd36967`, `graft.expr.BpeModel@71efa96c`), RDD ids
    * (`MapPartitionsRDD[1059]`, in checkpoint scans) and call-site source
    * lines (`Dedup.scala:448`).
    */
  private[graft] def mask(plan: String): String =
    plan.replace(sys.props("user.dir"), "<checkout>")
      .replaceAll("#\\d+L?\\b", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("graft_b_[0-9a-f]{16}", "graft_b_H")
      .replaceAll("(?<=[\\w;$])@[0-9a-f]{1,8}\\b", "@H")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("\\.scala:\\d+", ".scala:N")
}
