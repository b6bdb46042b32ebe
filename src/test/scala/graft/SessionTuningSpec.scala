package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SessionTuning

/** Every entry point builds its session through SessionTuning.local, so
  * the shared confs are asserted once here — a new entry point cannot
  * drift from them (Shell once ran without the UTC session zone).
  */
class SessionTuningSpec extends AnyFunSuite {

  test("local(n) carries the shared confs, with n shuffle partitions") {
    // a fresh session over the suite's shared context; the suite's own
    // session stays active and default for the other specs
    val base = TestSpark.spark
    val s = try SessionTuning.local(3).create()
      finally {
        SparkSession.setActiveSession(base)
        SparkSession.setDefaultSession(base)
      }
    val conf = s.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.codegen.hugeMethodLimit") == "8000")
    assert(conf.get("spark.sql.shuffle.partitions") == "3")
    assert(conf.get("spark.sql.unionOutputPartitioning") == "false")
    assert(base.conf.get("spark.sql.shuffle.partitions") == "4",
      "building another session must not retune the shared one")
  }
}
