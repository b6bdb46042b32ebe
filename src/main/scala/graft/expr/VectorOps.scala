package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import KernelCall.{Doubles, Longs}

/** Vector kernels for the similarity, dedup and curation families, run by
  * [[KernelCall]].
  *
  * The higher-order-function formulations (`aggregate(zip_with(...))`) are
  * CodegenFallback — evaluated interpreted per ELEMENT, which puts ~10^3
  * interpreted calls per row into the hottest paths (LSH bucketing computes
  * tables×planes dot products per row, on both sides of a self-join). These
  * kernels do the same math in one compiled loop inside whole-stage
  * codegen.
  *
  * Numeric contract: identical IEEE754 results to the HOF versions — the
  * fold is sequential in element order (acc += v[j]*w[j], j ascending),
  * which is also DuckDB's list_dot_product order, so the oracle comparison
  * stays exact, not approximate.
  */
private[expr] object VectorKernels {
  val AssignType: StructType = StructType(Seq(
    StructField("dist", LongType, nullable = false),
    StructField("cluster", LongType, nullable = false)))

  /** argmin over centroids `from until until` of `centroids` (flattened
    * [j][i]) of sum_i (v_i - mu_j,i)^2, as struct(dist, j - from); ties to
    * the lowest j. Every step is checked (`Math.*Exact`).
    */
  def argmin(v: Array[Long], dim: Int, centroids: Array[Long],
             from: Int, until: Int): InternalRow = {
    var bestD = Long.MaxValue
    var bestC = 0L
    var j = from
    while (j < until) {
      var acc = 0L
      val base = j * dim
      var i = 0
      while (i < dim) {
        val d = Math.subtractExact(v(i), centroids(base + i))
        acc = Math.addExact(acc, Math.multiplyExact(d, d))
        i += 1
      }
      if (acc < bestD) { bestD = acc; bestC = (j - from).toLong }
      j += 1
    }
    InternalRow(bestD, bestC)
  }

  /** The vector scaled by `fp` (checked), or null when its length is not
    * `dim` or an element is null.
    */
  def scaled(arr: ArrayData, dim: Int, fp: Long): Array[Long] = {
    if (arr.numElements() != dim) return null
    val v = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return null
      v(i) = Math.multiplyExact(arr.getLong(i), fp)
      i += 1
    }
    v
  }
}

import VectorKernels.{argmin, scaled, AssignType}

/** Sequential-fold dot product of two double arrays. Null semantics match
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`: unequal lengths or any null
  * element → null (zip_with pads with null, null poisons the fold).
  */
case object DotProduct extends Kernel2[ArrayData, ArrayData, java.lang.Double] {
  def prettyName: String = "graft_dot"
  def inputTypes: Seq[DataType] = Seq(Doubles, Doubles)
  def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  def apply(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }
}

/** All sign-LSH buckets of a vector in ONE pass: out[t] = OR over planes p
  * of (1<<p when dot(v, plane[t][p]) >= 0). `weights` is the hyperplane
  * family flattened [t][p][j] (deterministic md5-derived — see
  * SimilaritySearch.planeWeight — so the DuckDB oracle replicates it).
  *
  * Shape semantics match the per-plane HOF formulation
  * (`when(dot >= 0, 1<<p).otherwise(0)`): a vector of the wrong length or
  * containing a null element has null dots → every bucket 0. One
  * DELIBERATE deviation: a top-level NULL vector yields NULL (null in,
  * null out), so posexplode drops the row from the candidate space
  * entirely — the HOF form bucketed NULL vectors at 0, letting rows with
  * no vector surface as candidates with NULL cosine.
  */
case class SignBuckets(tables: Int, planes: Int, dim: Int, weights: Array[Double])
    extends Kernel1[ArrayData, ArrayData] {
  require(weights.length == tables * planes * dim,
    s"weights must be tables*planes*dim = ${tables * planes * dim}, got ${weights.length}")
  def prettyName: String = "graft_sign_buckets"
  def inputType: DataType = Doubles
  def dataType: DataType = Longs

  def apply(arr: ArrayData): ArrayData = {
    val out = new Array[Long](tables)
    if (arr.numElements() == dim) {
      val v = new Array[Double](dim)
      var ok = true
      var j = 0
      while (ok && j < dim) {
        if (arr.isNullAt(j)) ok = false else v(j) = arr.getDouble(j)
        j += 1
      }
      if (ok) {
        var t = 0
        while (t < tables) {
          var bkt = 0L
          var p = 0
          while (p < planes) {
            var acc = 0.0
            val base = (t * planes + p) * dim
            var k = 0
            while (k < dim) { acc += v(k) * weights(base + k); k += 1 }
            if (acc >= 0) bkt |= (1L << p)
            p += 1
          }
          out(t) = bkt
          t += 1
        }
      }
    }
    new GenericArrayData(out)
  }
}

/** Fixed-point quantization of a float/double vector in one compiled
  * loop: out[i] = floor(v[i] * 2^quantShift) as Long — the corpus-wide
  * embedding pass every curation consumer ([[graft.ops.KMeans]],
  * SemDeDup, IVF assignment) starts from. The `transform()` HOF
  * formulation is CodegenFallback (interpreted per element, ~dim boxed
  * calls per row) and this is the one stage that touches EVERY float
  * embedding of the corpus, so at scale it is the family's
  * bandwidth-bound step; this kernel is the same math in compiled code.
  *
  * It reads `array<double>` or `array<float>`; `on` picks the element
  * reader from the child type, so `floats` is never set by hand.
  *
  * Numeric contract — identical results to
  * `transform(v, x => floor(x.cast("double") * lit(scale)).cast("long"))`:
  * float→double widening is exact, multiplying by a power of two is
  * exact, and Spark's `Floor(double)` is `(long) Math.floor(x)`. Null
  * semantics also match the HOF: top-level null → null, a null element →
  * null element (floor(null) is null).
  */
case class QuantizeLong(quantShift: Int)(floats: Boolean = false)
    extends Kernel1[ArrayData, ArrayData] {
  require(quantShift >= 0 && quantShift < 62, s"bad quantShift $quantShift")
  private val scale: Double = (1L << quantShift).toDouble
  def prettyName: String = "graft_quantize"
  def inputType: DataType = Doubles
  def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def on(types: Seq[DataType]): Option[Kernel] = types match {
    case Seq(ArrayType(FloatType, _)) => Some(QuantizeLong(quantShift)(floats = true))
    case _                            => super.on(types)
  }

  def apply(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = if (floats) arr.getFloat(i).toDouble else arr.getDouble(i)
        out(i) = Math.floor(v * scale).toLong
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Squared Euclidean distance of two long arrays in one compiled loop —
  * the pair predicate of SemDeDup's within-cluster compare. Null semantics
  * match `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L, _+_)`:
  * unequal lengths or any null element → null.
  *
  * Overflow contract: every step is checked (`Math.subtractExact` /
  * `multiplyExact` / `addExact`), so inputs large enough to wrap the Long
  * accumulator raise ArithmeticException instead of silently diverging
  * from the HUGEINT-summing DuckDB replay. The [[graft.ops.KMeans]]
  * shift bound (quantShift+fpShift ≤ 20) keeps well-formed curation
  * inputs far from the guard; it exists for hostile magnitudes.
  */
case object SqDistLong extends Kernel2[ArrayData, ArrayData, java.lang.Long] {
  def prettyName: String = "graft_sqdist"
  def inputTypes: Seq[DataType] = Seq(Longs, Longs)
  def dataType: DataType = LongType
  override def nullable: Boolean = true

  def apply(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = Math.subtractExact(x.getLong(i), y.getLong(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    acc
  }
}

/** Grouped k-means assignment — the level-2 step of two-level
  * (hierarchical) clustering: argmin over only the centroids belonging to
  * the row's PARENT cluster (the second argument). The full centroid set
  * rides in the kernel as one flattened array plus a per-parent offset
  * table (parents can own fewer than k2 centroids when the parent cluster
  * is smaller than k2); `struct(dist, cluster)` returns the LOCAL centroid
  * index within the parent, ties to the lowest index — the same tie rule
  * as [[KMeansAssign]], replayed identically by the DuckDB chain.
  *
  * Null contract: null/wrong-length/null-element vector, a parent id
  * outside [0, parents), or a parent that owns no centroids → null.
  * Arithmetic checked like [[KMeansAssign]].
  */
case class KMeansAssignGrouped(dim: Int, fp: Long, centroids: Array[Long],
                               offsets: Array[Int])
    extends Kernel2[ArrayData, Long, InternalRow] {
  require(offsets.length >= 2 && offsets.head == 0 &&
    offsets.last * dim == centroids.length,
    s"offsets must cover the centroid array (dim=$dim, " +
      s"${centroids.length} longs, offsets ${offsets.toSeq})")
  private def parents: Int = offsets.length - 1
  def prettyName: String = "graft_kmeans_assign_grouped"
  def inputTypes: Seq[DataType] = Seq(Longs, LongType)
  def dataType: DataType = AssignType
  override def nullable: Boolean = true

  def apply(q: ArrayData, parent: Long): InternalRow = {
    if (parent < 0 || parent >= parents) return null
    val v = scaled(q, dim, fp)
    val from = offsets(parent.toInt)
    val until = offsets(parent.toInt + 1)
    if (v == null || until <= from) null else argmin(v, dim, centroids, from, until)
  }
}

/** Sequential-fold dot product of two LONG arrays — the stage-1 scorer of
  * the int8 two-stage retrieval ([[graft.ops.SimilaritySearch]]
  * searchQuantized): at scale it evaluates per (corpus × query) pair, the
  * engine's widest inner loop, and the
  * `aggregate(zip_with(a, b, _*_), 0L, _+_)` HOF formulation it replaces
  * is CodegenFallback (interpreted per element). Null semantics match the
  * HOF: unequal lengths or any null element → null. Arithmetic is
  * checked like [[SqDistLong]] (int8 codes over any practical dim sit far
  * below the guard; it exists for hostile magnitudes).
  */
case object DotLong extends Kernel2[ArrayData, ArrayData, java.lang.Long] {
  def prettyName: String = "graft_dot_long"
  def inputTypes: Seq[DataType] = Seq(Longs, Longs)
  def dataType: DataType = LongType
  override def nullable: Boolean = true

  def apply(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc = Math.addExact(acc, Math.multiplyExact(x.getLong(i), y.getLong(i)))
      i += 1
    }
    acc
  }
}

/** Symmetric int8 quantization of a double vector in ONE compiled pass:
  * struct(scale, q) with scale = maxAbs/127 and q_i = floor(v_i/scale
  * + 0.5) — the compression scan of the embedding store
  * ([[graft.ops.SimilaritySearch]] quantizeInt8), which touches every
  * float of the corpus and previously ran as an interpreted
  * aggregate + two transform HOFs.
  *
  * Value-identical to that HOF chain, including its edge semantics:
  *  - the max-abs fold SKIPS null elements (Spark's `greatest` ignores
  *    nulls), so scale is never null;
  *  - scale == 0.0 (all-zero or empty vector) → q is all ZEROS, null
  *    positions included (`transform(v, _ => 0L)` maps every position);
  *  - otherwise a null element stays a null code;
  *  - NaN elements: NaN wins the max fold (Java Math.max = Spark
  *    greatest NaN ordering), NaN/scale floors to 0L on both paths.
  *
  * It never returns null for a non-null vector; the result stays declared
  * nullable, as the schema of the stores built from it has always been.
  */
case object QuantizeInt8 extends Kernel1[ArrayData, InternalRow] {
  def prettyName: String = "graft_quantize_int8"
  def inputType: DataType = Doubles
  def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(LongType, containsNull = true), nullable = false)))
  override def nullable: Boolean = true

  def apply(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) maxAbs = Math.max(maxAbs, Math.abs(arr.getDouble(i)))
      i += 1
    }
    val scale = maxAbs / 127.0
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      if (scale == 0.0) out(i) = 0L
      else if (!arr.isNullAt(i))
        out(i) = Math.floor(arr.getDouble(i) / scale + 0.5).toLong
      i += 1
    }
    InternalRow(scale, new GenericArrayData(out))
  }
}

/** One-pass k-means assignment: struct(dist, cluster) =
  * argmin_j sum_i (q_i*fp - mu[j*dim+i])^2 with ties to the LOWEST j —
  * strict `<` in the scan is exactly the struct-min (dist, cluster)
  * ordering of the HOF formulation it replaces.
  *
  * Why a kernel and not `array_min(array(struct(aggregate(zip_with`:
  * the HOF tree is CodegenFallback — ~k*3*dim interpreted boxed calls per
  * row — and its centroid LITERALS change every Lloyd iteration, forcing a
  * fresh plan each time. Here the centroid matrix rides in the kernel,
  * which [[KernelCall]] binds as a reference object, so the generated
  * source is identical across iterations and the janino cache turns
  * per-iteration compilation into a one-time cost. All arithmetic is
  * Long — bit-identical to the KMeansSpec model and the generated DuckDB
  * oracle.
  *
  * Null contract: a null vector, a vector whose length differs from `dim`,
  * or any null element → null (the caller quantizes non-null float arrays,
  * so this only guards malformed input).
  *
  * Overflow contract: like [[SqDistLong]], all arithmetic is checked
  * (ArithmeticException on wrap) — the shift-bound `require` in
  * [[graft.ops.KMeans]] caps the scale factors but not input magnitude,
  * and a silent wrap would break the bit-identical-replay contract with
  * no signal.
  */
case class KMeansAssign(dim: Int, fp: Long, centroids: Array[Long])
    extends Kernel1[ArrayData, InternalRow] {
  require(centroids.length > 0 && centroids.length % dim == 0,
    s"centroids must be k*dim longs (dim=$dim, got ${centroids.length})")
  def prettyName: String = "graft_kmeans_assign"
  def inputType: DataType = Longs
  def dataType: DataType = AssignType
  override def nullable: Boolean = true

  def apply(q: ArrayData): InternalRow = {
    val v = scaled(q, dim, fp)
    if (v == null) null else argmin(v, dim, centroids, 0, centroids.length / dim)
  }
}

/** Asymmetric-distance (ADC) lookup-sum for product quantization
  * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
  * Search"): score = Σ_j dtab[j·ksub + codes[j]] — the per-subspace
  * query-to-centroid distance table gathered by the corpus row's code
  * word. One compiled pass; both inputs are columns (codes from the
  * encoded store, dtab broadcast per query), so the same compiled code
  * serves every query.
  *
  * Null contract: null arrays, null elements, a code outside [0, ksub),
  * or dtab.length != codes.length·ksub → null (a malformed store row must
  * surface, not fabricate a distance). Sums are checked (addExact) like
  * every curation kernel — distances are bounded by the quantization
  * shifts, so overflow means corrupted inputs.
  */
case class PqAdc(ksub: Int) extends Kernel2[ArrayData, ArrayData, java.lang.Long] {
  require(ksub >= 1, s"ksub must be >= 1, got $ksub")
  def prettyName: String = "graft_pq_adc"
  def inputTypes: Seq[DataType] = Seq(Longs, Longs)
  def dataType: DataType = LongType
  override def nullable: Boolean = true

  def apply(codes: ArrayData, dtab: ArrayData): java.lang.Long = {
    val m = codes.numElements()
    if (dtab.numElements() != m * ksub) return null
    var acc = 0L
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val c = codes.getLong(j)
      if (c < 0 || c >= ksub) return null
      val idx = j * ksub + c.toInt
      if (dtab.isNullAt(idx)) return null
      acc = Math.addExact(acc, dtab.getLong(idx))
      j += 1
    }
    acc
  }
}
