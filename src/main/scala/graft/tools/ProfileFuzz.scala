package graft.tools

import org.apache.spark.sql.DataFrame

/** Measures the whole-stage-codegen huge-method JIT cliff that
  * SessionTuning.HugeMethodLimit works around, using the widest parse
  * projection in the suite (op_type_fuzz). Kept as a tool so the
  * experiment is re-runnable when Spark or the JVM changes.
  *
  * Expected shape: `default limit` is 2-3x slower than `limit=8000`
  * because the generated processNext exceeds HotSpot's 8000-bytecode
  * DontCompileHugeMethods threshold and runs interpreted.
  */
object ProfileFuzz {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionTuning.local(32).appName("profile-fuzz")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def time(name: String)(f: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = f.queryExecution.toRdd.count()
      println(f"[prof] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
    }

    def fuzz() = graft.queries.Operators.typeFuzz(spark, dir)

    spark.conf.set("spark.sql.codegen.hugeMethodLimit", 65535)
    time("typeFuzz warmup (default limit)")(fuzz())
    time("typeFuzz default limit")(fuzz())
    spark.conf.set("spark.sql.codegen.hugeMethodLimit",
      graft.core.SessionTuning.HugeMethodLimit)
    time("typeFuzz warmup (limit=8000)")(fuzz())
    time("typeFuzz limit=8000")(fuzz())
    spark.stop()
  }
}
