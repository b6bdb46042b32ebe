package graft.core

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The cache scope every operator that caches runs in — the one place
  * graft persists, checkpoints and releases intermediate state. The rule:
  *
  *  - (a) Release on every exit. Whatever a scope caches ([[apply]]
  *    persists, [[checkpoint]] materializes) is released when the scope's
  *    body returns or throws. A frame the caller had already cached is
  *    used as it is, and left cached.
  *  - (b) Results leave materialized. A result that reads the scope's
  *    caches leaves through one materialize step ([[Cached.frame]]): an
  *    eager local checkpoint, which cuts the lineage to the caches, keeps
  *    the output partitioning, and needs no owner — the context cleaner
  *    frees its blocks once the frame is unreachable. So no operator
  *    hands back a cache its caller must release.
  *
  * Iteration state that a loop supersedes is dropped mid-loop with
  * [[release]], so peak storage stays at one or two rounds.
  */
final class Cached private () {
  private[this] val held = ArrayBuffer.empty[(DataFrame, () => Unit)]

  /** `df` persisted (memory and disk) until the scope ends. */
  def apply(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      held += (df -> (() => df.unpersist()))
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** `df` materialized now with its lineage cut, held until the scope
    * ends: for loops whose plan would otherwise grow every round.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val out = Cached.materialize(df)
    held += (out -> (() => Cached.blocks(out).unpersist(blocking = false)))
    out
  }

  /** Release `df` now, if this scope cached it. */
  def release(df: DataFrame): Unit = {
    val i = held.indexWhere(_._1 eq df)
    if (i >= 0) held.remove(i)._2()
  }

  private def releaseAll(): Unit = {
    held.foreach(_._2())
    held.clear()
  }
}

object Cached {

  /** Run `body` in a fresh scope; everything it cached is released when
    * it returns or throws.
    */
  def apply[T](body: Cached => T): T = {
    val scope = new Cached
    try body(scope) finally scope.releaseAll()
  }

  /** [[apply]] for an operator that returns a frame: the frame is
    * materialized before the scope's caches are released.
    */
  def frame(body: Cached => DataFrame): DataFrame =
    apply(scope => materialize(body(scope)))

  /** `df` computed once into local checkpoint blocks. The job is run here
    * rather than inside `localCheckpoint`, so a job that throws releases
    * the blocks it had begun to write.
    */
  private def materialize(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = false)
    val rdd = blocks(out)
    try rdd.count()
    catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
    out
  }

  private def blocks(checkpointed: DataFrame) =
    checkpointed.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get
}
