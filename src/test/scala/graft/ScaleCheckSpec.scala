package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.TimedPasses
import scala.jdk.CollectionConverters._

/** ScaleCheck's synthesis (sf0.001 replicated x10) and the shared timed
  * loop both harnesses run.
  */
class ScaleCheckSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val base = TestSpark.sfDir
  private val facts = ScaleCheck.FactKeys.keys.toSeq.sorted
  private lazy val x10 = {
    val d = TestSpark.tmpDir("scale10")
    ScaleCheck.synthesize(spark, base, d, 10, facts)
    d
  }
  private def read(dir: String, t: String): DataFrame = spark.read.parquet(s"$dir/$t.parquet")
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("every fact table holds exactly 10x the base rows, in at least 2 files") {
    facts.foreach { t =>
      assert(read(x10, t).count() == 10 * read(base, t).count(), t)
      val files = Files.list(Paths.get(x10, s"$t.parquet")).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      assert(files >= 2, s"$t is $files file(s)")
    }
  }

  test("replica 0 is the base, row for row") {
    facts.foreach { t =>
      val k = col(ScaleCheck.FactKeys(t).head)
      assert(sameRows(read(x10, t).where(k < ScaleCheck.Stride), read(base, t)), t)
    }
  }

  test("replica r offsets every key column by r * 1e9") {
    facts.foreach { t =>
      val keys = ScaleCheck.FactKeys(t)
      val big = read(x10, t).withColumn("__r", floor(col(keys.head) / ScaleCheck.Stride))
      assert(big.groupBy("__r").count().collect().map(r => r.getLong(0) -> r.getLong(1))
        .sorted.toSeq == (0L until 10L).map(_ -> read(base, t).count()), t)
      val shifted = big.select(keys.map(k => (col(k) - col("__r") * ScaleCheck.Stride).as(k)): _*)
      val base10 = Seq.fill(10)(read(base, t).select(keys.map(col): _*)).reduce(_ unionAll _)
      assert(sameRows(shifted, base10), t)
    }
  }

  test("documents keep each row's token count under disjoint tokens") {
    val tokens = expr("regexp_count(text, '\\\\S+')")
    val b = read(base, "documents").select(col("doc_id"), tokens.as("n0"), col("text").as("t0"))
    val big = read(x10, "documents").select(
      (col("doc_id") % ScaleCheck.Stride).as("doc_id"), floor(col("doc_id") / ScaleCheck.Stride).as("r"),
      tokens.as("n"), col("text"), col("n_chars"))
    val j = big.join(b, "doc_id")
    assert(j.count() == 10 * b.count())
    assert(j.where(col("n") =!= col("n0")).isEmpty)
    assert(j.where(col("n_chars") =!= length(col("text"))).isEmpty)
    assert(j.where(col("r") > 0 && col("n0") > 0 && col("text") === col("t0")).isEmpty)
  }

  test("nation and region are copied unchanged") {
    Seq("nation", "region").foreach(t => assert(sameRows(read(x10, t), read(base, t)), t))
  }

  test("a stale marker (other layout or reps) triggers re-synthesis") {
    val d = TestSpark.tmpDir("scale_stale")
    val n = read(base, "supplier").count()
    ScaleCheck.synthesize(spark, base, d, 2, Seq("supplier"))
    val marker = Paths.get(d, "_SCALE_LAYOUT")
    val stamp = Files.readString(marker)
    val sentinel = Paths.get(d, "sentinel")
    Files.writeString(sentinel, "stale")
    Files.writeString(marker, stamp.replace(s"layout=${ScaleCheck.Layout}", "layout=1"))
    ScaleCheck.synthesize(spark, base, d, 2, Seq("supplier"))
    assert(!Files.exists(sentinel) && Files.readString(marker) == stamp)
    ScaleCheck.synthesize(spark, base, d, 3, Seq("supplier"))
    assert(read(d, "supplier").count() == 3 * n)
    assert(Files.readString(marker).contains("reps=3"))
  }

  test("publish replaces only the measured rows of one decade") {
    val p = Paths.get(TestSpark.tmpDir("scale_publish"), "SCALE_CHECK.json").toString
    ScaleCheck.publish(p, 10, Seq("a", "b"), Map("a" -> Map("slope" -> 1.0)),
      Map("b" -> "x10: boom"))
    ScaleCheck.publish(p, 100, Seq("a"), Map("a" -> Map("slope" -> 0.5)), Map.empty)
    ScaleCheck.publish(p, 10, Seq("b"), Map("b" -> Map("slope" -> 0.9)), Map.empty)
    val j = graft.core.JsonLite.parse(Files.readString(Paths.get(p)))
      .asInstanceOf[Map[String, Map[String, Map[String, Any]]]]
    assert(j("x10")("rows") == Map("a" -> Map("slope" -> 1.0), "b" -> Map("slope" -> 0.9)))
    assert(j("x10")("failed").isEmpty)
    assert(j("x100")("rows") == Map("a" -> Map("slope" -> 0.5)))
  }

  test("TimedPasses: min over passes, a throwing query failed, no cache left between runs") {
    val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var leaked = false
    // per-call sleeps: warm-up, then passes 1..3
    def q(name: String, sleepsMs: Seq[Long]): (String, () => DataFrame) = name -> { () =>
      leaked ||= spark.sparkContext.getPersistentRDDs.nonEmpty
      val i = calls(name)
      calls(name) = i + 1
      Thread.sleep(sleepsMs(i))
      spark.sparkContext.parallelize(1 to 10).persist().count()
      spark.range(10).toDF("id")
    }
    val boom = "b" -> (() => { calls("b") += 1; throw new IllegalStateException("boom") })
    val r = TimedPasses.run(spark, "spec",
      Seq(q("c", Seq(0, 500, 800, 200)), boom, q("a", Seq(0, 900, 300, 600))), passes = 3)
    assert(r.best.map(_._1) == Seq("a", "c"))
    assert(r.failed.keys.toSeq == Seq("b") && r.failed("b") == "boom")
    assert(calls("b") == 1, "a failed query is not run again")
    val best = r.best.toMap
    assert(best("a").sec >= 0.3 && best("a").sec < 0.6, best("a"))
    assert(best("c").sec >= 0.2 && best("c").sec < 0.5, best("c"))
    assert(calls("a") == 4 && calls("c") == 4)
    assert(!leaked, "a persisted RDD outlived the run that made it")
  }
}
