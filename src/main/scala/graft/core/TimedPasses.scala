package graft.core

import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one timed loop of every harness (Bench at sf0.1, ScaleCheck at
  * each scale of a decade). Per query set:
  *  - one untimed warm-up pass: JIT, codegen and the memoized fixtures
  *    (graft.queries.Fixtures), so the timed passes measure plan cost,
  *    not fixture I/O;
  *  - `passes` timed passes, pass 1 in sorted-name order and passes
  *    2..n in seeded shuffles, so a query's min spans several
  *    neighbourhoods of GC debt while run order stays reproducible;
  *  - every run starts from a purged session ([[Materialize.purge]]) and
  *    is timed through the noop sink ([[Materialize.full]]), never
  *    count();
  *  - the reported sample is the min-wall one: noise only ever inflates a
  *    sample. Each sample carries the GC time inside it, the used heap
  *    right after it and the shuffle bytes it wrote ([[Measure.during]];
  *    the listener drain sits outside the timed window).
  *
  * Failure policy: a query that throws (NonFatal) in any pass, warm-up
  * included, is failed. It is not run again, and it is left out of every
  * row and total; the caller writes its artifact and then exits 1.
  */
object TimedPasses {
  final case class Sample(sec: Double, gcMs: Long, heapMb: Long, shuffleBytes: Long)

  /** `best`: the min-wall sample of each query that never threw, in
    * sorted-name order; `gcWorstMs`: its largest GC time over the timed
    * passes; `failed`: each failed query with its first error.
    */
  final case class Result(best: Seq[(String, Sample)], gcWorstMs: Map[String, Long],
                          failed: ListMap[String, String])

  private def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def run(spark: SparkSession, tag: String, queries: Seq[(String, () => DataFrame)],
          passes: Int): Result = {
    val sorted = queries.sortBy(_._1)
    var failed = ListMap.empty[String, String]
    def once(pass: String, name: String, q: () => DataFrame): Option[Sample] = {
      Materialize.purge(spark)
      val gc0 = gcMillis()
      var sec = 0.0
      try {
        val bytes = Measure.during(spark) {
          val t0 = System.nanoTime()
          Materialize.full(q())
          sec = (System.nanoTime() - t0) / 1e9
        }.shuffleBytes
        val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
        Some(Sample(sec, gcMillis() - gc0, heapMb, bytes))
      } catch { case NonFatal(e) =>
        System.err.println(s"[$tag] $pass $name failed: ${e.getMessage}")
        failed += name -> String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
        None
      }
    }
    sorted.foreach { case (name, q) => once("warmup", name, q) }
    val samples = (1 to passes).map { pass =>
      val order = if (pass == 1) sorted else new scala.util.Random(pass * 7919L).shuffle(sorted)
      val m = order.filterNot(kv => failed.contains(kv._1))
        .flatMap { case (name, q) => once(s"pass $pass", name, q).map(name -> _) }.toMap
      System.err.println(
        f"[$tag] pass $pass: ${m.values.map(_.sec).sum}%.1f s, gc ${m.values.map(_.gcMs).sum} ms")
      m
    }
    val ok = sorted.map(_._1).filterNot(failed.contains)
    Result(ok.map(n => n -> samples.map(_(n)).minBy(_.sec)),
      ok.map(n => n -> samples.map(_(n).gcMs).max).toMap, failed)
  }
}
