package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The honest benchmark action. `df.count()` is NOT one: Catalyst prunes
  * every column a count does not need (so a projection of expensive
  * scalar expressions times as a bare scan) and eliminates left joins
  * whose right side is unique on the join key (so a score-and-reattach
  * plan, or PageRank's per-iteration rank update, times as the LEFT
  * INPUT's count — measured r12: the full 5-iteration PageRank collapsed
  * to a constant ~7 stages under count() regardless of iteration count).
  * A noop-sink write materializes every output row and column through
  * the real plan while writing nothing — what a consumer actually pays.
  */
object Materialize {
  def full(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Drops every persisted RDD/Dataset and cache-manager entry, so the
    * next timed action pays its plan's build stages cold instead of
    * reusing an earlier run's cache (entries are keyed on the logical
    * plan, so a repeated query silently hits them).
    */
  def purge(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }
}
