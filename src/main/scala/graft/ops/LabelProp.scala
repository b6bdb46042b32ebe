package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Cached

/** Semi-supervised label propagation (Zhu & Ghahramani 2002, the clamped
  * majority-vote variant) — spread a small set of trusted labels (quality
  * grades, domains, languages) across an item graph, typically the k-NN
  * graph of an embedding space: the label-a-few, propagate-to-millions
  * shape of corpus curation.
  *
  * Entirely integer and order-free, so it hash-gates under an unrolled
  * DuckDB replay ([[graft.queries.GraphOracle.labelProp]]): each
  * iteration every non-seed node adopts the majority label among its
  * in-neighbors' current labels — argmax by (count DESC, label ASC),
  * computed as max(struct(count, −label)) so ties are deterministic —
  * keeping its previous label when no neighbor is labeled. Seeds are
  * clamped (never change). A fixed iteration count, not a convergence
  * poll: the plan is a statically unrolled DAG.
  *
  * 100 TB shape: label state is (v, int) — tiny beside the graph; each
  * iteration shuffles (dst, label) pairs, grouped twice (count, then
  * argmax), both map-side combinable. Edges partitioned by src join the
  * state on its key, same as PageRank; nothing vector- or text-sized
  * moves after the graph is built.
  */
object LabelProp {

  /** Propagate for `iters` rounds.
    *
    * @param nodes (v, seed_lbl): seed_lbl non-null = clamped seed.
    * @param edges (src, dst): src's label flows to dst.
    * @return (v, lbl) — null lbl for nodes never reached by any label.
    */
  def propagate(nodes: DataFrame, edges: DataFrame,
                iters: Int): DataFrame = Cached.frame { c =>
    require(iters >= 1 && iters <= 64, s"iters out of range: $iters")
    // cached pre-partitioned on src, the every-iteration join key (see
    // PageRank.eDeg)
    val e = c(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct().repartition(col("src")))
    val n0 = nodes.select(col("v").cast("long").as("v"),
      col("seed_lbl").cast("int").as("seed_lbl"))
    var cur = n0.withColumn("lbl", col("seed_lbl"))
    for (_ <- 1 to iters) {
      val cnt = e
        .join(cur.select(col("v").as("src"), col("lbl").as("nlbl")), "src")
        .where(col("nlbl").isNotNull)
        .groupBy("dst", "nlbl").agg(count(lit(1)).as("c"))
      val best = cnt.groupBy("dst")
        .agg(max(struct(col("c"), (-col("nlbl")).as("nl"))).as("m"))
        .select(col("dst"), (-col("m.nl")).cast("int").as("blbl"))
      // Each iteration reads the previous state TWICE (the cnt chain and
      // the direct join), so the state is materialized per round — without
      // this the physical plan doubles the whole prefix chain every
      // iteration (2^iters subtrees at the allowed iters=64; ADVICE r11).
      // Materializing round i lets round i-1's state be released
      // immediately: peak held state is two (v, int) relations.
      val prev = cur
      cur = c.checkpoint(cur.join(best, cur("v") === best("dst"), "left")
        .select(cur("v"), col("seed_lbl"),
          when(col("seed_lbl").isNotNull, col("seed_lbl"))
            .when(col("blbl").isNotNull, col("blbl"))
            .otherwise(cur("lbl")).as("lbl")))
      c.release(prev)
    }
    cur.select(col("v"), col("lbl"))
  }
}
