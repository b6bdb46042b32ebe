package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanDump

/** PlanDump's mask: what differs between two runs of the same plan is
  * replaced, so a parent-vs-change diff shows only real plan changes.
  */
class PlanDumpSpec extends AnyFunSuite {

  test("mask replaces ids, identity hashes, RDD ids, call sites and the checkout") {
    val cases = Seq(
      "doc_id#42L, n#7" -> "doc_id#N, n#N",
      "plan_id=12" -> "plan_id=N",
      "graft_b_0123456789abcdef" -> "graft_b_H",
      s"${sys.props("user.dir")}/target/x" -> "<checkout>/target/x",
      "graft_kmeans_assign(q#3, [J@1dd36967)" -> "graft_kmeans_assign(q#N, [J@H)",
      "graft.expr.BpeModel@71efa96c" -> "graft.expr.BpeModel@H",
      "[Ljava.lang.String;@5f2b" -> "[Ljava.lang.String;@H",
      "Scan ExistingRDD MapPartitionsRDD[1059] at Dedup.scala:448" ->
        "Scan ExistingRDD MapPartitionsRDD[N] at Dedup.scala:N")
    for ((in, want) <- cases) assert(PlanDump.mask(in) == want, in)
    // an address-like token not attached to a name is left alone
    assert(PlanDump.mask("user @abc") == "user @abc")
  }
}
