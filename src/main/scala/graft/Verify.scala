package graft
import graft.core.JsonLite.quote
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. A query that
  * throws is logged and skipped; the rest still dump, and the run exits
  * non-zero once everything is written (PlanDump's policy). */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name prefixes — dump (and
    // list oracles for) only matching queries. The driver always passes
    // exactly two args; the filter exists for fast local iteration.
    val (sfDir, outDir) = (args(0), args(1))
    val keep: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(','); n => ps.exists(n.startsWith) }
      else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.SessionTuning.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[verify] $failed queries failed")
      sys.exit(1)
    }
  }
}
