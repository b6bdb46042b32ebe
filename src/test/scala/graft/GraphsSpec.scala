package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Graphs
import TestSpark.spark

/** Graph profiling: triangle census replication on hand graphs. */
class GraphsSpec extends AnyFunSuite {
  import spark.implicits._

  private def stats(edges: Seq[(Long, Long)]): (Long, Long, Long) =
    Graphs.triangleStats(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long)].collect().head

  test("triangle census replays the closed-form counts") {
    // K4: 4 triangles, every vertex degree 3 -> wedges 4*3 = 12, cc = 1
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    assert(stats(k4) == (4L, 12L, 10000L))
    // a 4-path: 0 triangles, 2 wedges, cc 0
    assert(stats(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == (0L, 2L, 0L))
    // triangle + pendant: 1 triangle, wedges = 1+1+3 = 5, cc = 3/5
    val tp = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    assert(stats(tp) == (1L, 5L, 6000L))
    // ids past 2^31 (and negative) force the generic two-column probe
    // key — the packed-long fast path must not change any count
    val big = 1L << 40
    val wide = tp.map { case (a, b) => (a + big, b + big) } :+
      (-7L, 1L + big)
    // degrees 3,2,3,1,1 -> wedges 3+1+3 = 7; cc = 30000/7 = 4285
    assert(stats(wide) == (1L, 7L, 4285L),
      "unpackable ids must take the generic path with identical counts")
  }

  test("report: unpackable ids take the generic reciprocity path, same counts") {
    // ids past 2^31 (and negative) must force the two-column reciprocity
    // join — the packed-long fast path may not change any count
    val big = 1L << 40
    val e = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 4L))
    val wide = e.map { case (a, b) => (a + big, b + big) } :+ (-7L, 1L + big)
    val r = Graphs.report(wide.toDF("src", "dst"), "src", "dst")
      .collect().head
    assert(r.getAs[Long]("n_nodes") == 5L)
    assert(r.getAs[Long]("n_edges") == 5L)
    assert(r.getAs[Long]("n_dangling") == 1L)
    assert(r.getAs[Long]("max_out_deg") == 2L)
    assert(r.getAs[Long]("max_in_deg") == 2L)
    assert(r.getAs[Long]("n_reciprocal") == 2L)
  }

  test("denseIdMap: bijection onto [0, n), ascending-id rank, remap parity") {
    val big = 1L << 40
    val e = Seq((1L + big, 2L + big), (1L + big, 3L + big),
      (2L + big, 1L + big), (3L + big, 4L + big), (-7L, 1L + big))
    val edges = e.toDF("src", "dst")
    val m = Graphs.denseIdMap(edges, "src", "dst")
      .as[(Long, Long)].collect().sortBy(_._1)
    // domain = the 6 distinct node ids; range = exactly [0, 6) in id order
    assert(m.map(_._1).toSeq ==
      Seq(-7L, 1L + big, 2L + big, 3L + big, 4L + big).sorted)
    assert(m.map(_._2).toSeq == (0L until m.length).toSeq,
      s"dids must be the dense ascending rank, got ${m.toSeq}")
    // the PARITY LAW: census results are invariant under the remap —
    // and the remapped ids fit 31 bits, so the packed path engages
    val dense = Graphs.remapDense(edges, Graphs.denseIdMap(edges, "src", "dst"),
      "src", "dst")
    val raw = Graphs.report(edges, "src", "dst").collect().head
    val packed = Graphs.report(dense, "src", "dst").collect().head
    Seq("n_nodes", "n_edges", "n_dangling", "max_out_deg", "max_in_deg",
      "n_reciprocal").foreach { c =>
      assert(raw.getAs[Long](c) == packed.getAs[Long](c),
        s"$c diverged between raw (unpacked) and dense (packed) paths")
    }
    // triangle parity on a graph with actual triangles
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .map { case (a, b) => (a * 3 + big, b * 3 + big) }
    val triDf = tri.toDF("src", "dst")
    val triDense = Graphs.remapDense(triDf,
      Graphs.denseIdMap(triDf, "src", "dst"), "src", "dst")
    assert(
      Graphs.triangleStats(triDf, "src", "dst")
        .as[(Long, Long, Long)].collect().head ==
      Graphs.triangleStats(triDense, "src", "dst")
        .as[(Long, Long, Long)].collect().head,
      "triangle census must be id-bijection-invariant")
    // DROP CONTRACT (ADVICE r19): a null-endpoint edge is dropped by the
    // remap under the SAME rule the census applies to raw edges, so
    // parity holds on a null-bearing edge set too — remapDense keeps
    // exactly the rows every consumer would keep
    val withNulls = (e.map { case (a, b) =>
        (Option(a), Option(b))
      } :+ ((None: Option[Long], Some(1L + big))) :+
        ((Some(2L + big), None: Option[Long])))
      .toDF("src", "dst")
    val denseN = Graphs.remapDense(withNulls,
      Graphs.denseIdMap(withNulls, "src", "dst"), "src", "dst")
    assert(denseN.count() == e.length.toLong,
      "null-endpoint edges must be dropped by the remap, nothing else")
    val rawN = Graphs.report(withNulls, "src", "dst").collect().head
    val packedN = Graphs.report(denseN, "src", "dst").collect().head
    Seq("n_nodes", "n_edges", "n_dangling", "max_out_deg", "max_in_deg",
      "n_reciprocal").foreach { c =>
      assert(rawN.getAs[Long](c) == packedN.getAs[Long](c),
        s"$c diverged on the null-bearing edge set")
    }
    // extra columns ride through the remap untouched
    val withW = e.zipWithIndex.map { case ((a, b), i) => (a, b, i.toLong) }
      .toDF("src", "dst", "w")
    val rm = Graphs.remapDense(withW, Graphs.denseIdMap(withW, "src", "dst"),
      "src", "dst")
    assert(rm.columns.toSet == Set("src", "dst", "w"))
    assert(rm.agg(org.apache.spark.sql.functions.sum("w")).as[Long]
      .collect().head == e.indices.map(_.toLong).sum)
  }

  test("direction, duplicates and self-loops do not perturb the census") {
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val noisy = base ++ base.map(_.swap) ++ Seq((1L, 2L), (2L, 2L))
    assert(stats(noisy) == stats(base))
  }

  test("report: consolidated values match the hand graph, <=1 cartesian") {
    // 1->2, 1->3, 2->1, 3->4: nodes {1,2,3,4}; node 4 dangling;
    // out-degrees 1:2 2:1 3:1; in-degrees 2:1 3:1 1:1 4:1;
    // reciprocal pairs: (1,2) and (2,1) -> 2 directed reciprocal edges
    val e = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 4L))
    val df = Graphs.report(e.toDF("src", "dst"), "src", "dst")
    val r = df.collect().head
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(r.getAs[Long]("n_edges") == 4L)
    assert(r.getAs[Long]("n_dangling") == 1L)
    assert(r.getAs[Long]("max_out_deg") == 2L)
    assert(r.getAs[Long]("max_in_deg") == 1L)
    assert(r.getAs[Long]("n_reciprocal") == 2L)
    // the r12 consolidation: ONE degree pass + one global agg + the
    // reciprocity self-join, one 1-row crossJoin — not six crossJoined
    // single-row aggregates. Plan-text counting lies here (AQE + cached
    // subplans reprint), so measure the runtime truth: stages submitted
    // for a fresh report() (the pre-r12 shape paid six separate
    // aggregate pipelines over the edge set).
    graft.core.Materialize.purge(spark)
    val n = graft.core.Measure.during(spark) {
      Graphs.report(e.toDF("src", "dst"), "src", "dst")
    }.stages
    assert(n <= 12,
      s"report() submitted $n stages — the consolidation " +
        "(one degree pass + one global agg + reciprocity) regressed")
  }

  test("triangleDiag: wedges/candidates replay closed forms") {
    // K4 oriented by (degree, id): every orientation of K4 is acyclic
    // with out-degrees {3,2,1,0}-ish; candidates = sum in(v)*out(v)
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val r = Graphs.triangleDiag(k4.toDF("src", "dst"), "src", "dst")
      .collect().head
    assert(r.getAs[Long]("n_wedges") == 12L)
    // id-ordered orientation of K4 (all degrees equal): edges lo->hi;
    // out(1)=3,out(2)=2,out(3)=1; in(2)=1,in(3)=2,in(4)=3
    // candidates = sum over v of in(v)*out(v) = 1*2 + 2*1 = 4
    assert(r.getAs[Long]("n_candidates") == 4L)
    assert(r.getAs[Long]("n_oriented_edges") == 6L)
    assert(r.getAs[Long]("max_oriented_outdeg") == 3L)
  }

  test("triangleDiag and triangleStats: edge-free input is all-zero, not null") {
    val empty = Seq.empty[(Long, Long)]
    val d = Graphs.triangleDiag(empty.toDF("src", "dst"), "src", "dst")
      .collect().head
    assert(!(0 until d.length).exists(d.isNullAt),
      s"diagnostic row must carry 0s, not nulls: $d")
    assert(Seq("n_wedges", "n_candidates", "n_oriented_edges",
      "max_oriented_outdeg").forall(c => d.getAs[Long](c) == 0L))
    assert(stats(empty) == (0L, 0L, 0L))
    // self-loop-only input reduces to edge-free after cleaning
    val dl = Graphs.triangleDiag(Seq((5L, 5L)).toDF("src", "dst"),
      "src", "dst").collect().head
    assert(Seq("n_wedges", "n_candidates", "n_oriented_edges",
      "max_oriented_outdeg").forall(c => dl.getAs[Long](c) == 0L))
  }
}
