package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long): Span = {
    val s = new Span(id, s"s$id", parent, "t", start)
    s.end = end
    s
  }

  test("self time subtracts the union of the children, clipped to the parent") {
    val spans = Seq(
      span(1, 0, 0, 100),
      span(2, 1, 10, 30), span(3, 1, 20, 50), // overlap: [10, 50) once
      span(4, 1, 90, 120),                    // clipped to [90, 100)
      span(5, 2, 12, 14))                     // a grandchild is its parent's
    val self = Spans.selfNs(spans)
    assert(self(1) == 50)
    assert(self(2) == 18)
    assert(self(4) == 30)
  }

  test("each Spark job and its Catalyst phases are attributed to the span that started it") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val tr = new Tracer("test", spark)
    tr.attach()
    val (outer, inner) = tr.withSpan("outer") { o =>
      // the session's first query: its Catalyst phases take milliseconds
      spark.range(100).selectExpr("id % 7 as k").groupBy("k").count().collect()
      val i = tr.withSpan("inner") { i => spark.range(10).selectExpr("sum(id)").collect(); i }
      spark.range(5).count()
      (o, i)
    }
    spark.range(7).count() // outside any span: not attributed
    spark.stop()
    val exec = tr.byspan
    assert(exec(inner.id).jobs >= 1)
    assert(exec(outer.id).jobs >= 2)
    assert(exec.keySet == Set(outer.id, inner.id))
    assert(exec(inner.id).tasks >= 1)
    val o = exec(outer.id)
    assert(o.analysisMs + o.optimizationMs + o.planningMs > 0)
  }
}
