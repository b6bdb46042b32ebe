package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One call from the harness into an engine layer. Times are nanoTime. */
final class Span(val id: Int, val name: String, val parent: Int, val run: String, val start: Long) {
  var end: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def durNs: Long = end - start
}

/** Where workloads wrap their calls into engine layers. `Spans.Off` only
  * runs the body; `Tracer` records a span per call and tags the Spark jobs
  * the call starts with the span's id.
  */
trait Spans {
  def on: Boolean
  def apply[A](name: String)(body: => A): A = withSpan(name)(_ => body)
  def withSpan[A](name: String)(body: Span => A): A
  /** Add `v` to a layer counter measured outside the engine. */
  def count(name: String, v: Double): Unit
}

object Spans {
  object Off extends Spans {
    private val dummy = new Span(0, "", 0, "", 0L)
    def on = false
    def withSpan[A](name: String)(body: Span => A): A = body(dummy)
    def count(name: String, v: Double): Unit = ()
  }

  /** Self time of each span: its duration minus the part of its interval
    * covered by its children (overlapping children are counted once).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Spark work attributed to one span. Times in ms (task metrics) or ns
  * (executor CPU), as Spark reports them.
  */
final class ExecAgg {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
  // executor CPU of tasks that read input files (scan, parse, filter)
  var scanCpuNs = 0L
  // Catalyst phases, and rows into and out of Filter operators
  var analysisMs, optimizationMs, planningMs = 0L
  var filterRowsIn, filterRowsOut = 0L

  def +=(o: ExecAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input; taskRunMs ++= o.taskRunMs; scanCpuNs += o.scanCpuNs
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    filterRowsIn += o.filterRowsIn; filterRowsOut += o.filterRowsOut
  }

  /** Slowest task over the median task. */
  def taskSkew: Double =
    if (taskRunMs.isEmpty) 0.0
    else taskRunMs.max / math.max(1.0, Stats.median(taskRunMs.map(_.toDouble).toSeq))
}

/** Records spans and attributes Spark jobs, stages, tasks and Catalyst
  * phases to them. Register with `attach`; read `byspan` only after the
  * SparkContext stopped, which drains the listener bus.
  */
final class Tracer(val run: String, spark: SparkSession) extends Spans {
  import Tracer.Prop
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Span] = Nil

  def on = true

  def withSpan[A](name: String)(body: Span => A): A = {
    val s = new Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0), run, System.nanoTime())
    spans += s
    val outer = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    stack = s :: stack
    try body(s)
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Prop, outer)
    }
  }

  def count(name: String, v: Double): Unit =
    counters.update(name, counters.getOrElse(name, 0.0) + v)

  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  // per SQL execution: Filter row counts summed from task accumulator
  // updates (accumulator id -> (execution, is input))
  private val plans = mutable.HashMap.empty[Long, ExecAgg]
  // per QueryExecution id: Catalyst phases, and the SQL execution it ran as
  private val phases = mutable.HashMap.empty[Long, ExecAgg]
  private val qeExec = mutable.HashMap.empty[Long, Long]
  private val filterAcc = mutable.HashMap.empty[Long, (Long, Boolean)]
  private val agg = mutable.HashMap.empty[Int, ExecAgg]
  private def aggOf(span: Int) = agg.getOrElseUpdate(span, new ExecAgg)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { sp =>
        val span = sp.toInt
        e.stageIds.foreach(stageSpan(_) = span)
        Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
          .flatMap(k => Option(e.properties.getProperty(k))).foreach(x => execSpan(x.toLong) = span)
        aggOf(span).jobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(aggOf(_).stages += 1)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart             => filters(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => filters(u.executionId, u.sparkPlanInfo)
        case e: SparkListenerSQLExecutionEnd               =>
          ExecutionEnd.queryExecution(e).foreach(qe => qeExec(qe.id) = e.executionId)
        case _                                             =>
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      Option(e.taskInfo).foreach(_.accumulables.foreach { acc =>
        (filterAcc.get(acc.id), acc.update) match {
          case (Some((exec, isIn)), Some(n: java.lang.Long)) =>
            val a = plans.getOrElseUpdate(exec, new ExecAgg)
            if (isIn) a.filterRowsIn += n else a.filterRowsOut += n
          case _ =>
        }
      })
      stageSpan.get(e.stageId).foreach { span =>
        val a = aggOf(span)
        a.tasks += 1
        if (e.reason != org.apache.spark.Success) a.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.taskRunMs += m.executorRunTime
          if (m.inputMetrics.bytesRead > 0) a.scanCpuNs += m.executorCpuTime
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = Tracer.this.synchronized {
      val a = phases.getOrElseUpdate(qe.id, new ExecAgg)
      val ph = qe.tracker.phases
      a.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      a.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      a.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Track the row-count accumulators of each Filter in a plan: the
    * Filter's own output and the output of the nearest operator below it.
    */
  private def filters(exec: Long, p: SparkPlanInfo): Unit = {
    def rows(n: SparkPlanInfo) = n.metrics.find(_.name == "number of output rows").map(_.accumulatorId)
    def below(n: SparkPlanInfo): Option[Long] =
      n.children.headOption.flatMap(c => rows(c).orElse(below(c)))
    if (p.nodeName == "Filter") {
      rows(p).foreach(filterAcc(_) = (exec, false))
      below(p).foreach(filterAcc(_) = (exec, true))
    }
    p.children.foreach(filters(exec, _))
  }

  /** Spark work per span id; jobs outside any span are dropped. */
  def byspan: Map[Int, ExecAgg] = synchronized {
    plans.foreach { case (exec, a) => execSpan.get(exec).foreach(aggOf(_) += a) }
    phases.foreach { case (q, a) => qeExec.get(q).flatMap(execSpan.get).foreach(aggOf(_) += a) }
    plans.clear()
    phases.clear()
    agg.toMap
  }
}

object Tracer {
  /** Local property that carries the innermost span id into Spark jobs. */
  val Prop = "perfbench.span"
}
