package graft.core

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Counts submitted stages and shuffle bytes written. Stage events arrive
  * on the asynchronous listener bus, so counts are read through [[drain]],
  * which waits for the bus to deliver what has been posted — no sleeps.
  * Shuffle bytes are the scale diagnostic wall time alone can't give: a
  * candidate-pair blowup or an accidental re-shuffle shows up as a
  * super-linear bytes slope even when wall time hides behind parallelism.
  */
final class Measure private (sc: SparkContext) extends SparkListener {
  private val stages = new AtomicLong
  private val shuffleWritten = new AtomicLong
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    shuffleWritten.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)

  /** The counts so far, once every event posted so far is delivered. */
  def drain(): Measure.Counts = {
    GraftBridge.drainListeners(sc)
    Measure.Counts(stages.get, shuffleWritten.get)
  }
}

object Measure {
  final case class Counts(stages: Long, shuffleBytes: Long)

  /** The counts `body` alone causes: events of earlier work are drained
    * before the meter attaches, and `body`'s own before it is read.
    */
  def during(spark: SparkSession)(body: => Any): Counts = {
    val sc = spark.sparkContext
    GraftBridge.drainListeners(sc)
    val m = new Measure(sc)
    sc.addSparkListener(m)
    try { body; m.drain() } finally sc.removeSparkListener(m)
  }
}
