package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Materialize, Measure}
import graft.ops.PageRank
import TestSpark.spark

/** Integer fixed-point PageRank. The driver's oracle (gr_pagerank/gr_ppr)
  * pins Spark↔DuckDB on the co-purchase graph; this spec is the
  * third replication — a plain-collections power iteration with the same
  * integer algebra — plus the contract and ranking-shape checks.
  */
class PageRankSpec extends AnyFunSuite {
  import spark.implicits._

  private val fpShift = 20
  private val fp = 1L << fpShift
  private val dFp = 85L * fp / 100
  private val omd = fp - dFp

  /** Plain-Scala replication of the exact integer map. */
  private def ref(edges: Seq[(Long, Long)], iters: Int,
                  seeds: Option[Set[Long]]): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val tp = nodes.map(v =>
      v -> (if (seeds.forall(_.contains(v))) 1L else 0L)).toMap
    var r = nodes.map(v => v -> tp(v) * fp).toMap
    for (_ <- 1 to iters) {
      val acc = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = nodes.map(v =>
        v -> (tp(v) * omd + dFp * acc.getOrElse(v, 0L) / fp)).toMap
    }
    r
  }

  // a small graph with a cycle, a dangling node (4), skew into 1, and a
  // node reachable only from outside the seed set
  private val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 4L), (5L, 1L), (6L, 1L),
    (7L, 6L), (1L, 2L)) // duplicate edge — must collapse

  private def run(seeds: Option[Set[Long]], iters: Int = 6) = {
    val df = edges.toDF("src", "dst")
    PageRank.ranks(df, "src", "dst", iters,
        seeds = seeds.map(ss => ss.toSeq.toDF("v")))
      .as[(Long, Long)].collect().toMap
  }

  test("ranks replay the plain-collections integer power iteration") {
    assert(run(None) == ref(edges, 6, None))
  }

  test("personalized ranks: teleport only at seeds, exact replay") {
    val seeds = Set(5L, 7L)
    val got = run(Some(seeds))
    assert(got == ref(edges, 6, Some(seeds)))
    // a node with no teleport and no inbound path from a seed decays to 0
    assert(got(4L) >= 0L)
    // seeds hold their teleport mass
    assert(got(5L) >= omd)
  }

  test("dangling node receives but never redistributes") {
    val r = run(None)
    // node 4 has no out-edges; its rank is teleport + inbound from 3 only,
    // and total mass stays bounded by N * fp (leak, never growth)
    assert(r.values.sum <= r.size * fp)
    assert(r(1L) > r(4L)) // the skew hub outranks the leaf
  }

  /** Weighted replication: contribution (r·w) div Σ_out w. */
  private def refW(edges: Seq[(Long, Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val byPair = edges.groupBy(t => (t._1, t._2)).view
      .mapValues(_.map(_._3).sum).toSeq
      .map { case ((s0, d0), w) => (s0, d0, w) }
    val sw = byPair.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = (byPair.map(_._1) ++ byPair.map(_._2)).distinct
    var r = nodes.map(v => v -> fp).toMap
    for (_ <- 1 to iters) {
      val acc = byPair.groupBy(_._2).view.mapValues(
        _.map { case (u, _, w) => r(u) * w / sw(u) }.sum).toMap
      r = nodes.map(v => v -> (omd + dFp * acc.getOrElse(v, 0L) / fp)).toMap
    }
    r
  }

  test("weighted ranks replay; uniform weights reduce to unweighted") {
    val we = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 2L), (3L, 2L, 2L),
      (1L, 2L, 2L)) // parallel edge folds by summation
    val got = PageRank.ranks(we.toDF("src", "dst", "w"), "src", "dst",
        iters = 4, weightCol = Some("w"))
      .as[(Long, Long)].collect().toMap
    assert(got == refW(we, 4))
    // every weight equal → identical to the unweighted run on the same
    // distinct edge set (the w ≡ 1 special-case law)
    val ue = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 2L))
    val uw = PageRank.ranks(
        ue.map { case (a, b) => (a, b, 7L) }.toDF("src", "dst", "w"),
        "src", "dst", iters = 4, weightCol = Some("w"))
      .as[(Long, Long)].collect().toMap
    val plain = PageRank.ranks(ue.toDF("src", "dst"), "src", "dst",
        iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(uw == plain)
  }

  test("lineage-truncation law: checkpointEvery never changes a rank bit") {
    // checkpointEvery exists for disk footprint (the unrolled DAG retains
    // every iteration's shuffle files until the final action); the ranks
    // must be EXACTLY the no-checkpoint run's — the checkpoint stores the
    // Long rank vector verbatim. Cover the off-cadence case (every=2 over
    // 5 iterations) and the every-iteration case, plus seeds + weights
    // (the paths that change what flows through the checkpointed vector).
    val df = edges.toDF("src", "dst")
    val base = PageRank.ranks(df, "src", "dst", iters = 5)
      .as[(Long, Long)].collect().toMap
    for (every <- Seq(1, 2)) {
      val got = PageRank.ranks(df, "src", "dst", iters = 5,
          checkpointEvery = every)
        .as[(Long, Long)].collect().toMap
      assert(got == base, s"checkpointEvery=$every diverged")
    }
    val seeds = Some(Set(5L, 7L).toSeq.toDF("v"))
    val sBase = PageRank.ranks(df, "src", "dst", iters = 4, seeds = seeds)
      .as[(Long, Long)].collect().toMap
    val sCkpt = PageRank.ranks(df, "src", "dst", iters = 4, seeds = seeds,
        checkpointEvery = 1)
      .as[(Long, Long)].collect().toMap
    assert(sCkpt == sBase, "seeded checkpoint run diverged")
    val we = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 2L), (3L, 2L, 2L))
      .toDF("src", "dst", "w")
    val wBase = PageRank.ranks(we, "src", "dst", iters = 4,
        weightCol = Some("w"))
      .as[(Long, Long)].collect().toMap
    val wCkpt = PageRank.ranks(we, "src", "dst", iters = 4,
        weightCol = Some("w"), checkpointEvery = 2)
      .as[(Long, Long)].collect().toMap
    assert(wCkpt == wBase, "weighted checkpoint run diverged")
    // cacheEdges=false (the at-scale snapshot-scan shape) is equally
    // invisible — alone and combined with checkpointing
    val norm = PageRank.normalizedEdges(df, "src", "dst")
    val uncached = PageRank.ranksIndexed(norm, iters = 5,
        cacheEdges = false)
      .as[(Long, Long)].collect().toMap
    assert(uncached == base, "cacheEdges=false diverged")
    val uncachedCkpt = PageRank.ranksIndexed(norm, iters = 5,
        checkpointEvery = 1, cacheEdges = false)
      .as[(Long, Long)].collect().toMap
    assert(uncachedCkpt == base, "cacheEdges=false + checkpoint diverged")
  }

  test("resume law: a rank snapshot is a checkpoint, not an approximation") {
    val df = edges.toDF("src", "dst")
    val r2 = PageRank.ranks(df, "src", "dst", iters = 2)
    val resumed = PageRank.resume(r2, df, "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    val full = PageRank.ranks(df, "src", "dst", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(resumed == full)
  }

  test("scale shape: marginal cost per iteration is a bounded stage count") {
    // Plan-text Exchange counting lies here (InMemoryTableScan reprints
    // its cached subplan at every reference), so measure the runtime
    // truth: stages actually submitted. Since r12, ranks() materializes
    // its result internally (persist + count — the cache-release fix),
    // which is also the HONEST protocol: a bare count() on the lazy plan
    // lets Catalyst eliminate every per-iteration left join outright
    // (sums is unique on dst), so pre-r12 this test measured a collapsed
    // plan. On this tiny graph AQE turns both per-iteration joins into
    // broadcasts, so a real iteration costs ~5 stages (contribution
    // shuffle + broadcast builds/probes). The claims that matter: the
    // marginal cost is CONSTANT (no prefix-chain recompute — that would
    // be super-linear) and bounded well under the edge-build depth (no
    // re-shuffle of the cached eDeg/nodes relations per round).
    def stagesFor(iters: Int): Long = {
      Materialize.purge(spark)
      Measure.during(spark) {
        PageRank.ranks(edges.toDF("src", "dst"), "src", "dst", iters).count()
      }.stages
    }
    val s2 = stagesFor(2)
    val s6 = stagesFor(6)
    val s10 = stagesFor(10)
    val m1 = (s6 - s2) / 4.0
    val m2 = (s10 - s6) / 4.0
    assert(m1 <= 6.0,
      s"marginal $m1 stages/iteration (s2=$s2, s6=$s6) — an " +
        "iteration is re-shuffling a cached relation")
    assert(math.abs(m2 - m1) <= 1.0,
      s"marginal stages not constant ($m1 then $m2; s2=$s2, s6=$s6, " +
        s"s10=$s10) — the prefix chain is being recomputed per iteration")
  }

  test("bucketed edge store: the run pays no edge-sized exchange") {
    // The r20 layout law behind the 3-6x x10 shuffle cut (docs/SCALE.md)
    // (gr_ppr/gr_pagerank_w/gr_pagerank_resume): a src-bucketed snapshot
    // read recovers HashPartitioning(src), so the rank loop's edge side
    // joins exchange-free; an UNBUCKETED read must exchange the whole
    // edge relation onto hash(src) first. (Spark's exchange reuse dedups
    // the per-iteration copies into ONE exchange — but that one is
    // edge-sized: a full disk materialization of the graph that scales
    // with |E|, while every shuffle the bucketed plan keeps is node- or
    // contribution-sized. At 100 TB the eliminated exchange is the
    // difference between shuffling the corpus once per analysis run and
    // never.) Measured as runtime shuffle-write bytes (plan-text
    // counting lies through the internal persist) on a graph whose edge
    // set (20k rows) dwarfs its node set (200): the eliminated exchange
    // must dwarf a contribution shuffle.
    import graft.core.{ArtifactFormats, SnapshotStore}
    val s = spark
    val big = (0L until 200L).flatMap(u =>
      (0L until 100L).map(v => (u, (u + 7 * v) % 200)))
    val norm = PageRank.normalizedEdges(big.toDF("src", "dst"), "src", "dst")
    val store = new SnapshotStore(s, TestSpark.tmpDir("pr_bucketed_law"))
    store.write(norm, "b", hashlabel = Some("src"), slices = 4,
      preRouted = true, formatVersion = Some(ArtifactFormats.GraphEdges))
    store.write(norm, "u", slices = 4,
      formatVersion = Some(ArtifactFormats.GraphEdges))
    def shuffleBytes(name: String, iters: Int): Long = {
      Materialize.purge(s)
      Measure.during(s) {
        PageRank.ranksIndexed(
          store.readArtifact(name, ArtifactFormats.GraphEdges),
          iters = iters).count()
      }.shuffleBytes
    }
    // two contribution shuffles' worth of bytes: the unit the eliminated
    // edge exchange must exceed
    val contrib2 = shuffleBytes("b", 4) - shuffleBytes("b", 2)
    val tB = shuffleBytes("b", 3)
    val tU = shuffleBytes("u", 3)
    assert(tU - tB > contrib2,
      s"unbucketed total ($tU B) minus bucketed ($tB B) should carry an " +
        s"edge-sized exchange (>> 2 contribution shuffles = $contrib2 B) " +
        "— if not, the bucketed scan isn't the thing saving the exchange")
    // and the layout is value-invisible
    val rb = PageRank.ranksIndexed(
        store.readArtifact("b", ArtifactFormats.GraphEdges), iters = 3)
      .as[(Long, Long)].collect().toMap
    val ru = PageRank.ranksIndexed(
        store.readArtifact("u", ArtifactFormats.GraphEdges), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(rb == ru, "bucketed and unbucketed stores must rank identically")
  }

  test("contract: overflow bound and parameter validation fail fast") {
    val df = edges.toDF("src", "dst")
    intercept[IllegalArgumentException] {
      PageRank.ranks(df, "src", "dst", iters = 5, fpShift = 24,
        maxNodes = 1L << 32)
    }
    intercept[IllegalArgumentException] {
      PageRank.ranks(df, "src", "dst", iters = 0)
    }
    intercept[IllegalArgumentException] {
      PageRank.ranks(df, "src", "dst", iters = 5, dampNum = 100,
        dampDen = 100)
    }
  }
}
