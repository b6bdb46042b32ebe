package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.expr.Md5Hash60
import graft.ops.{Graphs, LabelProp, PageRank, RandomWalks}
import TestSpark.spark

/** Hostile-graph property fuzz for the graph family (VERDICT r13 item 4):
  * every operator is checked against an independent plain-collections
  * replication over GENERATED graphs carrying the shapes hand-picked
  * fixtures miss — self-loops, parallel edges, isolated nodes, empty /
  * 1-node / 2-node graphs, ties, and edge weights AT the overflow-guard
  * boundary. The driver's DuckDB oracles pin Spark↔SQL on the
  * co-purchase fixtures; this spec pins Spark↔plain-Scala on adversarial
  * structure (the r13 empty-graph diagnostics bug is exactly the class a
  * generator catches first).
  */
class GraphPropertySpec extends AnyFunSuite {
  import spark.implicits._

  /** Deterministic hostile generator: ids 0..n-1, ~4 edges per node drawn
    * uniformly WITH replacement — so self-loops, parallel edges and
    * isolated nodes all occur naturally at these sizes.
    */
  private def genEdges(seed: Int): (Int, Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val n = 3 + rnd.nextInt(28)
    val m = rnd.nextInt(4 * n) + 1
    (n, Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)))
  }

  /** The explicit edge-case battery: empty, single self-loop, 2-node
    * one-way, 2-node cycle, parallel-edges-only.
    */
  private val EdgeCases: Seq[Seq[(Long, Long)]] = Seq(
    Seq.empty,
    Seq((1L, 1L)),
    Seq((1L, 2L)),
    Seq((1L, 2L), (2L, 1L)),
    Seq((3L, 4L), (3L, 4L), (3L, 4L)))

  // ---- law 1: PageRank replays plain-collections on hostile graphs ----

  private val fpShift = 20
  private val fp = 1L << fpShift
  private val dFp = 85L * fp / 100
  private val omd = fp - dFp

  private def refPr(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var r = nodes.map(v => v -> fp).toMap
    for (_ <- 1 to iters) {
      val acc = e.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = nodes.map(v => v -> (omd + dFp * acc.getOrElse(v, 0L) / fp)).toMap
    }
    r
  }

  test("law: pagerank == plain replication on generated hostile graphs") {
    for (seed <- Seq(11, 23, 37, 41)) {
      val (_, edges) = genEdges(seed)
      val got = PageRank.ranks(edges.toDF("src", "dst"), "src", "dst",
        iters = 3).as[(Long, Long)].collect().toMap
      assert(got == refPr(edges, 3), s"seed $seed")
      // mass law: per-node init r0 = fp, dangling nodes only LEAK — the
      // total can never exceed N*fp on any graph
      assert(got.values.sum <= got.size * fp, s"seed $seed mass grew")
    }
    for (edges <- EdgeCases) {
      val got = PageRank.ranks(edges.toDF("src", "dst"), "src", "dst",
        iters = 3).as[(Long, Long)].collect().toMap
      assert(got == refPr(edges, 3), s"edge case $edges")
    }
    // single self-loop: a 1-node closed system loses no mass — rank
    // converges toward the fixed point, never below teleport
    val loop = PageRank.ranks(Seq((1L, 1L)).toDF("src", "dst"),
      "src", "dst", iters = 8).as[(Long, Long)].collect().toMap
    assert(loop(1L) >= omd && loop(1L) <= fp)
  }

  // ---- law 2: weighted PageRank + the overflow guard, both sides ----

  private def refPrW(edges: Seq[(Long, Long, Long)],
                     iters: Int): Map[Long, Long] = {
    val byPair = edges.filter(_._3 > 0)
      .groupBy(t => (t._1, t._2)).view
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

  test("law: weighted pagerank replays; weight guard raises past the bound") {
    // fpShift=20, maxNodes=2^22 -> folded-weight cap 2^(62-20-22) = 2^20
    val maxW = 1L << 20
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val (n, base) = genEdges(seed)
      // keep the boundary pair free of generated parallels — their fold
      // would push the PASSING case over the cap
      val edges = base
        .filter(e => !(e._1 == 0L && e._2 == (n - 1).toLong))
        .map { case (s, d) => (s, d, 1L + rnd.nextInt(9).toLong) } :+
        ((0L, (n - 1).toLong, maxW)) // AT the boundary: must pass
      val got = PageRank.ranks(edges.toDF("src", "dst", "w"), "src", "dst",
          iters = 3, weightCol = Some("w"))
        .as[(Long, Long)].collect().toMap
      assert(got == refPrW(edges, 3), s"seed $seed")
    }
    // one past the boundary (as a FOLDED weight: two parallel edges whose
    // sum exceeds the cap must also raise): the scan-side raise_error
    val over = Seq((1L, 2L, maxW), (1L, 2L, 1L), (2L, 1L, 1L))
    val ex = intercept[Exception] {
      PageRank.ranks(over.toDF("src", "dst", "w"), "src", "dst",
        iters = 2, weightCol = Some("w")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("folded edge weight")),
      s"wrong failure: ${messages(ex)}")
  }

  // ---- law 3: label propagation replays, ties and isolated nodes ----

  private def refLp(nodes: Map[Long, Option[Int]],
                    edges: Seq[(Long, Long)], iters: Int): Map[Long, Option[Int]] = {
    val e = edges.distinct.filter { case (s, d) =>
      nodes.contains(s) && nodes.contains(d)
    }
    var lbl: Map[Long, Option[Int]] = nodes
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      lbl = nodes.keys.map { v =>
        v -> (nodes(v) match {
          case Some(seed) => Some(seed) // clamped
          case None =>
            val neigh = in.getOrElse(v, Seq.empty).flatMap(lbl(_))
            if (neigh.isEmpty) lbl(v)
            else {
              // majority, ties by SMALLER label (max of (count, -label))
              val byLbl = neigh.groupBy(identity).view
                .mapValues(_.size).toSeq
              Some(byLbl.maxBy { case (l, c) => (c, -l) }._1)
            }
        })
      }.toMap
    }
    lbl
  }

  test("law: labelprop == plain replication incl. isolated nodes and ties") {
    for (seed <- Seq(5, 13, 29)) {
      val rnd = new scala.util.Random(seed)
      val (n, edges) = genEdges(seed)
      // every id 0..n-1 is a node (so ids untouched by any edge are
      // ISOLATED nodes that must keep their seed / stay null); ~25% seeded
      // with labels from a tiny alphabet so majority TIES occur
      val nodes = (0L until n.toLong).map { v =>
        v -> (if (rnd.nextInt(4) == 0) Some(rnd.nextInt(3)) else None)
      }.toMap
      val nodesDf = nodes.toSeq
        .map { case (v, s) => (v, s.map(Integer.valueOf).orNull) }
        .toDF("v", "seed_lbl")
      val got = LabelProp.propagate(nodesDf, edges.toDF("src", "dst"),
          iters = 3)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
      assert(got == refLp(nodes, edges, 3), s"seed $seed")
    }
  }

  // ---- law 4: triangle census replays; degenerate graphs all-zero ----

  private def refTri(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val deg = (und.map(_._1) ++ und.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val us = und.toSet
    val tri = (for {
      (a, b) <- und
      (b2, c) <- und if b2 == b && us.contains((a, c))
    } yield 1).size.toLong
    val cc = if (wedges > 0) 30000 * tri / wedges else 0L
    (tri, wedges, cc)
  }

  test("law: triangle census == plain replication; empty/tiny graphs zero") {
    for (seed <- Seq(3, 17, 31, 43)) {
      val (_, edges) = genEdges(seed)
      val r = Graphs.triangleStats(edges.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long, Long)].collect().head
      assert(r == refTri(edges), s"seed $seed")
    }
    for (edges <- EdgeCases) {
      val df = edges.toDF("src", "dst")
      val r = Graphs.triangleStats(df, "src", "dst")
        .as[(Long, Long, Long)].collect().head
      assert(r == refTri(edges), s"edge case $edges")
    }
  }

  // ---- law 5: report card replays; empty graph is an all-zero row ----

  private def refReport(edges: Seq[(Long, Long)]): (Long, Long, Long, Long, Long, Long) = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val od = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val id = e.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val es = e.toSet
    (nodes.size.toLong, e.size.toLong,
      nodes.count(v => !od.contains(v)).toLong,
      if (nodes.isEmpty) 0L else nodes.map(od.getOrElse(_, 0L)).max,
      if (nodes.isEmpty) 0L else nodes.map(id.getOrElse(_, 0L)).max,
      e.count { case (s, d) => es.contains((d, s)) }.toLong)
  }

  test("law: graph report == plain replication; self-loops are reciprocal") {
    for (seed <- Seq(2, 53, 61)) {
      val (_, edges) = genEdges(seed)
      val r = Graphs.report(edges.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long, Long, Long, Long, Long)].collect().head
      assert(r == refReport(edges), s"seed $seed")
    }
    for (edges <- EdgeCases) {
      val r = Graphs.report(edges.toDF("src", "dst"), "src", "dst")
        .as[(Long, Long, Long, Long, Long, Long)].collect().head
      assert(r == refReport(edges), s"edge case $edges")
    }
    // a self-loop is its own reverse: reciprocal must count it
    val loop = Graphs.report(Seq((1L, 1L)).toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(loop._6 == 1L)
  }

  // ---- law 6: walks replay the md5 draw on hostile graphs ----

  private def refWalks(edges: Seq[(Long, Long)], starts: Seq[Long],
                       steps: Int): Set[(Long, Long, Long)] = {
    val nbr = edges.distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    starts.distinct.flatMap { w =>
      var node = w
      var alive = true
      (w, 0L, node) +: (1 to steps).flatMap { t =>
        if (!alive) None
        else nbr.get(node) match {
          case None => alive = false; None
          case Some(ns) =>
            val h = Md5Hash60.of(s"$w|$t".getBytes("UTF-8"))
            node = ns((h % ns.size).toInt)
            Some((w, t.toLong, node))
        }
      }
    }.toSet
  }

  test("law: walks == plain md5 replay; self-loop walks never die") {
    for (seed <- Seq(47, 59)) {
      val (n, edges) = genEdges(seed)
      val starts = (0L until n.toLong).filter(_ % 3 == 0)
      val got = RandomWalks.walks(edges.toDF("src", "dst"), "src", "dst",
          starts.toDF("v"), steps = 5)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == refWalks(edges, starts, 5), s"seed $seed")
    }
    // a pure self-loop walk survives every step at the same node
    val got = RandomWalks.walks(Seq((9L, 9L)).toDF("src", "dst"),
        "src", "dst", Seq(9L).toDF("v"), steps = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == (0 to 4).map(t => (9L, t.toLong, 9L)).toSet)
  }

  // ---- law 7: node2vec biased walks replay on hostile graphs ----
  // Self-loops make prev == cur states reachable, where the return lane
  // (dst == prev) and the distance-1 lane (edge prev→dst) overlap — the
  // CASE order (return wins) must agree on both sides.

  private def refN2v(edges: Seq[(Long, Long)], starts: Seq[Long],
                     steps: Int, p: Int, q: Int): Set[(Long, Long, Long)] = {
    val eset = edges.distinct.toSet
    val nbr = edges.distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    starts.distinct.flatMap { w =>
      var prev = -1L
      var node = w
      var alive = true
      (w, 0L, node) +: (1 to steps).flatMap { t =>
        if (!alive) None
        else nbr.get(node) match {
          case None => alive = false; None
          case Some(ns) =>
            val h = Md5Hash60.of(s"$w|$t".getBytes("UTF-8"))
            val nxt =
              if (t == 1) ns((h % ns.size).toInt)
              else {
                val biases = ns.map(x =>
                  if (x == prev) q.toLong
                  else if (eset((prev, x))) p.toLong * q
                  else p.toLong)
                val r = h % biases.sum
                var cum = 0L
                var pick = -1
                biases.indices.foreach { i =>
                  if (pick < 0) { cum += biases(i); if (r < cum) pick = i }
                }
                ns(pick)
              }
            prev = node
            node = nxt
            Some((w, t.toLong, node))
        }
      }
    }.toSet
  }

  test("law: node2vec == plain biased replay on hostile graphs") {
    for ((seed, p, q) <- Seq((61, 4, 2), (67, 1, 7), (71, 5, 1))) {
      val (n, edges) = genEdges(seed)
      val starts = (0L until n.toLong).filter(_ % 3 == 0)
      val got = RandomWalks.node2vecWalks(edges.toDF("src", "dst"),
          "src", "dst", starts.toDF("v"), steps = 5, p = p, q = q)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == refN2v(edges, starts, 5, p, q), s"seed $seed p=$p q=$q")
    }
    // pure self-loop: the only candidate is the return lane; the walk
    // must keep choosing it (bias q of total q) instead of dying
    val got = RandomWalks.node2vecWalks(Seq((9L, 9L)).toDF("src", "dst"),
        "src", "dst", Seq(9L).toDF("v"), steps = 4, p = 3, q = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == (0 to 4).map(t => (9L, t.toLong, 9L)).toSet)
  }

  // ---- law 8: the prebuilt neighbor index is invisible ----
  // walksIndexed/node2vecIndexed over a parquet-round-tripped
  // neighborIndex must equal the inline builds corpus-for-corpus: the
  // index is deterministic, so persisting it as a snapshot (the
  // GraphPack walk_nbr artifact) can never change a draw.

  test("law: walks over a persisted neighbor index == inline builds") {
    val dir = java.nio.file.Files.createTempDirectory("walknbr").toString
    for (seed <- Seq(61, 73)) {
      val (n, edges) = genEdges(seed)
      val starts = (0L until n.toLong).filter(_ % 3 == 0).toDF("v")
      val e = edges.toDF("src", "dst")
      val idxPath = s"$dir/nbr_$seed.parquet"
      RandomWalks.neighborIndex(e, "src", "dst").write
        .mode("overwrite").parquet(idxPath)
      val idx = spark.read.parquet(idxPath)
      val wInline = RandomWalks.walks(e, "src", "dst", starts, steps = 5)
        .as[(Long, Long, Long)].collect().toSet
      val wIndexed = RandomWalks.walksIndexed(idx, starts, steps = 5)
        .as[(Long, Long, Long)].collect().toSet
      assert(wIndexed == wInline, s"walks seed $seed")
      val nInline = RandomWalks.node2vecWalks(e, "src", "dst", starts,
          steps = 4, p = 4, q = 2)
        .as[(Long, Long, Long)].collect().toSet
      val nIndexed = RandomWalks.node2vecIndexed(idx, starts,
          steps = 4, p = 4, q = 2)
        .as[(Long, Long, Long)].collect().toSet
      assert(nIndexed == nInline, s"node2vec seed $seed")
    }
  }
}
