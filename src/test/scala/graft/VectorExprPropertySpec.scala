package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import graft.expr.{DotLong, KMeansAssign, KernelCall, QuantizeInt8, QuantizeLong, SqDistLong}
import TestSpark.spark

/** The curation expressions' three evaluation paths must agree: the
  * interpreted path (nullSafeEval — what CodegenFallback contexts and
  * TypedImperativeAggregate buffers would hit), the codegen path (what a
  * DataFrame query runs), and a plain-Scala model. The oracle gate pins
  * Spark↔DuckDB; this pins Spark↔Spark across execution modes on hostile
  * random inputs, where a doGenCode/nullSafeEval divergence would
  * otherwise surface only as a scale-dependent heisenbug.
  */
class VectorExprPropertySpec extends AnyFunSuite {

  private def sample[A](g: Gen[A], i: Int): A =
    g.pureApply(Gen.Parameters.default, Seed(977L + i))

  private val dim = 6
  private val vecGen: Gen[Array[Long]] =
    Gen.containerOfN[Array, Long](dim, Gen.chooseNum(-5000L, 5000L))

  private def lit(a: Array[Long]) =
    org.apache.spark.sql.catalyst.expressions.Literal.create(
      a.toSeq, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))

  test("SqDistLong: interpreted == codegen(DataFrame) == model") {
    val s = spark
    import s.implicits._
    for (i <- 1 to 60) {
      val (a, b) = (sample(vecGen, i), sample(vecGen, 1000 + i))
      val model = a.zip(b).map { case (x, y) => val d = x - y; d * d }.sum
      val interp = KernelCall(Seq(lit(a), lit(b)), SqDistLong)
        .eval(InternalRow.empty).asInstanceOf[Long]
      assert(interp == model)
      val viaCol = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
        .select(KernelCall.column(col("a"), col("b"), SqDistLong).as("d"))
        .head.getLong(0)
      assert(viaCol == model)
    }
  }

  test("SqDistLong: length mismatch and null elements are null on both paths") {
    val s = spark
    import s.implicits._
    val interp = KernelCall(Seq(lit(Array(1L, 2L)), lit(Array(1L, 2L, 3L))), SqDistLong)
      .eval(InternalRow.empty)
    assert(interp == null)
    val viaCol = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
      .select(KernelCall.column(col("a"), col("b"), SqDistLong).as("d"))
      .head
    assert(viaCol.isNullAt(0))
  }

  test("KMeansAssign: interpreted == codegen(DataFrame) == model argmin") {
    val s = spark
    import s.implicits._
    val k = 4
    val fp = 1L << 10
    val musGen = Gen.containerOfN[Array, Long](k * dim, Gen.chooseNum(-5000L, 5000L))
    for (i <- 1 to 40) {
      val (v, mus) = (sample(vecGen, i), sample(musGen, 2000 + i))
      val model = (0 until k).map { j =>
        var acc = 0L
        (0 until dim).foreach { i =>
          val d = v(i) * fp - mus(j * dim + i); acc += d * d
        }
        (acc, j.toLong)
      }.min
      val interp = KernelCall(lit(v), KMeansAssign(dim, fp, mus))
        .eval(InternalRow.empty).asInstanceOf[InternalRow]
      assert((interp.getLong(0), interp.getLong(1)) == model)
      val viaCol = Seq(Tuple1(v.toSeq)).toDF("v")
        .select(KernelCall.column(col("v"), KMeansAssign(dim, fp, mus)).as("s"))
        .select(col("s.dist"), col("s.cluster"))
        .head
      assert((viaCol.getLong(0), viaCol.getLong(1)) == model)
    }
  }

  test("QuantizeLong: interpreted == codegen(DataFrame) == HOF transform == model") {
    val s = spark
    import s.implicits._
    val fGen = Gen.containerOfN[Array, Float](dim,
      Gen.chooseNum(-100.0f, 100.0f))
    for (i <- 1 to 40) {
      val v = sample(fGen, 5000 + i)
      val shift = 6
      val scale = (1L << shift).toDouble
      val model = v.map(x => math.floor(x.toDouble * scale).toLong).toSeq
      val df = Seq(Tuple1(v.toSeq)).toDF("v")
      val viaExpr = df.select(KernelCall.column(col("v"), QuantizeLong(shift)()).as("q"))
        .head.getSeq[Long](0)
      assert(viaExpr == model)
      // the HOF formulation this expression replaced — must stay value-identical
      val viaHof = df.select(transform(col("v"),
          x => floor(x.cast("double") *
            org.apache.spark.sql.functions.lit(scale)).cast("long")).as("q"))
        .head.getSeq[Long](0)
      assert(viaHof == model)
    }
    // double elements + null element preservation, interpreted path
    val lit2 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq[java.lang.Double](1.5, null, -2.25),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = true))
    val out = KernelCall(lit2, QuantizeLong(2)()).eval(InternalRow.empty)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(out.numElements() == 3 && !out.isNullAt(0) && out.isNullAt(1))
    assert(out.getLong(0) == 6L && out.getLong(2) == -9L)
  }

  test("DotLong: interpreted == codegen(DataFrame) == HOF aggregate(zip_with) == model") {
    val s = spark
    import s.implicits._
    for (i <- 1 to 40) {
      val (a, b) = (sample(vecGen, 7000 + i), sample(vecGen, 8000 + i))
      val model = a.zip(b).map { case (x, y) => x * y }.sum
      val interp = KernelCall(Seq(lit(a), lit(b)), DotLong)
        .eval(InternalRow.empty).asInstanceOf[Long]
      assert(interp == model)
      val row = Seq((a.toSeq, b.toSeq)).toDF("a", "b")
        .select(
          KernelCall.column(col("a"), col("b"), DotLong).as("d"),
          aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
            org.apache.spark.sql.functions.lit(0L), (acc, x) => acc + x).as("hof"))
        .head
      assert(row.getLong(0) == model && row.getLong(1) == model)
    }
    // length mismatch / null element -> null, like the HOF
    assert(KernelCall(Seq(lit(Array(1L, 2L)), lit(Array(1L, 2L, 3L))), DotLong)
      .eval(InternalRow.empty) == null)
  }

  test("QuantizeInt8: interpreted == codegen(DataFrame) == HOF chain == model") {
    val s = spark
    import s.implicits._
    val dGen = Gen.containerOfN[Array, Double](dim,
      Gen.chooseNum(-50.0, 50.0))
    def model(v: Array[Double]): (Double, Seq[Long]) = {
      val scale = v.map(math.abs).foldLeft(0.0)(math.max) / 127.0
      (scale,
        if (scale == 0.0) Seq.fill(v.length)(0L)
        else v.map(x => math.floor(x / scale + 0.5).toLong).toSeq)
    }
    for (i <- 1 to 30) {
      val v = sample(dGen, 9000 + i)
      val (wScale, wQ) = model(v)
      // interpreted
      val interp = KernelCall(
        org.apache.spark.sql.catalyst.expressions.Literal.create(v.toSeq,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false)),
        QuantizeInt8)
        .eval(InternalRow.empty).asInstanceOf[InternalRow]
      assert(interp.getDouble(0) == wScale)
      // codegen + the HOF chain it replaced, side by side
      val row = Seq(Tuple1(v.toSeq)).toDF("v")
        .select(col("v"),
          aggregate(col("v"), org.apache.spark.sql.functions.lit(0.0),
            (acc, x) => greatest(acc, abs(x))).as("ma"))
        .select(
          KernelCall.column(col("v"), QuantizeInt8).as("sq"),
          (col("ma") / org.apache.spark.sql.functions.lit(127.0)).as("hofScale"),
          col("v"))
        .select(col("sq.scale"), col("sq.q"), col("hofScale"),
          when(col("hofScale") === 0.0, transform(col("v"), _ =>
              org.apache.spark.sql.functions.lit(0L)))
            .otherwise(transform(col("v"), x =>
              floor(x / col("hofScale") +
                org.apache.spark.sql.functions.lit(0.5)).cast("long"))).as("hofQ"))
        .head
      assert(row.getDouble(0) == wScale && row.getDouble(2) == wScale)
      assert(row.getSeq[Long](1) == wQ && row.getSeq[Long](3) == wQ)
    }
    // zero vector: scale 0, all-zero codes on the interpreted path too
    val z = KernelCall(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(0.0, 0.0),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false)),
      QuantizeInt8)
      .eval(InternalRow.empty).asInstanceOf[InternalRow]
    assert(z.getDouble(0) == 0.0)
    assert(z.getArray(1).toLongArray().toSeq == Seq(0L, 0L))
  }

  test("overflow wraps are checked, not silent, on both evaluation paths") {
    val s = spark
    import s.implicits._
    val big = Array(Long.MaxValue / 2, 0L, 0L, 0L, 0L, 0L)
    val neg = Array(Long.MinValue / 2, 0L, 0L, 0L, 0L, 0L)
    // interpreted
    intercept[ArithmeticException] {
      KernelCall(Seq(lit(big), lit(neg)), SqDistLong).eval(InternalRow.empty)
    }
    // codegen (DataFrame path)
    val ex = intercept[Exception] {
      Seq((big.toSeq, neg.toSeq)).toDF("a", "b")
        .select(KernelCall.column(col("a"), col("b"), SqDistLong).as("d"))
        .head
    }
    def rootIsArithmetic(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[ArithmeticException] || rootIsArithmetic(t.getCause))
    assert(rootIsArithmetic(ex))
    intercept[ArithmeticException] {
      KernelCall(lit(big), KMeansAssign(dim, 1L << 10, Array.fill(dim)(Long.MinValue / 2)))
        .eval(InternalRow.empty)
    }
  }

  test("kmeans quantize stage is the codegen'd expression, not a HOF") {
    val s = spark
    // parquet-backed input so the projection isn't constant-folded away
    val df = s.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val mus = Array(Array.fill(64)(0L), Array.fill(64)(64L))
    val plan = graft.ops.KMeans.assignTo(df, "vec_id", "embedding", mus)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_quantize"), plan)
    assert(!plan.contains("transform("), plan)
    assert(!KernelCall(
      org.apache.spark.sql.GraftBridge.expression(col("v")), QuantizeLong(6)())
      .isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
  }

  test("KMeansAssign: calls that differ only in centroids share one generated source") {
    val s = spark
    // an RDD source, so the projection is not folded away before codegen
    val df = s.createDataFrame(
      s.sparkContext.parallelize(Seq(Row(Seq(1L, 2L, 3L, 4L, 5L, 6L))), 1),
      StructType(Seq(StructField("v", ArrayType(LongType), nullable = true))))
    def source(mus: Array[Long]): (String, Long) = {
      val q = df.select(KernelCall.column(col("v"), KMeansAssign(dim, 1024L, mus))
        .getField("cluster"))
      val plan = q.queryExecution.executedPlan
      (plan.asInstanceOf[WholeStageCodegenExec].doCodeGen()._2.body,
        q.head.getLong(0))
    }
    val (a, clusterA) = source(Array.fill(dim)(0L) ++ Array.fill(dim)(1L << 20))
    val (b, clusterB) = source(Array.fill(dim)(1L << 20) ++ Array.fill(dim)(0L))
    assert((clusterA, clusterB) == (0L, 1L), "the centroids do reach the kernel")
    assert(a == b)
  }

  test("KMeansAssign: wrong-length vector is null on both paths") {
    val s = spark
    import s.implicits._
    val mus = Array.fill(2 * dim)(0L)
    assert(KernelCall(lit(Array(1L, 2L)), KMeansAssign(dim, 1024L, mus))
      .eval(InternalRow.empty) == null)
    val viaCol = Seq(Tuple1(Seq(1L, 2L))).toDF("v")
      .select(KernelCall.column(col("v"), KMeansAssign(dim, 1024L, mus)).as("s"))
      .head
    assert(viaCol.isNullAt(0))
  }
}
