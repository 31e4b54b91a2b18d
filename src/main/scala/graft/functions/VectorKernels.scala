package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Static JVM kernels for the embedding hot path (unit-normalize, banded
  * LSH bucket assignment, rerank dot product) — shared by interpreted
  * `eval` and generated code, exactly like [[TextKernels]].
  *
  * Every loop is the verbatim arithmetic of the typed-Dataset closures it
  * replaces (`Dedup.unitNormalize`, the band flatMap in
  * `Dedup.lshNearDupPairs`, the rerank fold): float→double widening,
  * index-order accumulation, same comparison directions — so swapping the
  * closures for these expressions cannot change a single output bit, it
  * only removes the object serialize/deserialize boundary that broke
  * whole-stage codegen around each typed map.
  */
object VectorKernels {

  /** α=1/2 EWMA left fold in element order — the verbatim arithmetic of
    * `TimeSeries.ewma`'s `aggregate` lambda (`acc·0.5 + v·0.5`, seed =
    * first element), so the kernel and the interpreted HOF cannot differ
    * by a bit. Boxed return: null for an empty array or any null element
    * (the HOF's null-poison semantics).
    */
  def ewmaHalf(arr: ArrayData): java.lang.Double = {
    val n = arr.numElements()
    if (n == 0) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val v = arr.getDouble(i)
      acc = if (i == 0) v else acc * 0.5 + v * 0.5
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** float→double widen (exact), divide by the index-order L2 norm —
    * identical to `Dedup.unitNormalize` / the oracle's
    * `x / sqrt(list_dot_product(v, v))`.
    */
  def unitNormalize(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    val v = new Array[Double](n)
    var sq = 0.0
    var i = 0
    while (i < n) {
      val x = vec.getFloat(i).toDouble
      v(i) = x
      sq += x * x
      i += 1
    }
    val nrm = math.sqrt(sq)
    i = 0
    while (i < n) { v(i) = v(i) / nrm; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(v)
  }

  /** Index-order dot product over two double arrays (the rerank step —
    * inputs are already unit-normalized, so this IS the cosine).
    */
  def dotF64(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Integer k-means assignment: exact squared-L2 argmin of `v` against
    * `k = cents.length / d` centroids packed row-major into one flat long
    * array (centroid `c`'s dimension `i` at `cents(c*d + i)`). Returns
    * `[bestCid, bestSqDist]`. Strict `<` keeps the FIRST minimum, so ties
    * break to the lowest centroid id — the same rule as `PQ`'s declarative
    * argminCode twin and the oracle's `ORDER BY d, cid`. A null element of
    * `v` raises: read as 0 it would give a wrong cluster silently.
    */
  def sqDistArgmin(v: ArrayData, cents: ArrayData): ArrayData = {
    val d = v.numElements()
    val k = if (d == 0) 0 else cents.numElements() / d
    var bestC = -1L
    var bestD = Long.MaxValue
    var c = 0
    while (c < k) {
      val off = c * d
      var acc = 0L
      var i = 0
      while (i < d) {
        if (c == 0 && v.isNullAt(i))
          throw new IllegalArgumentException(
            s"graft_kmeans_assign: null vector element at position $i")
        val diff = v.getLong(i) - cents.getLong(off + i)
        acc += diff * diff
        i += 1
      }
      if (acc < bestD) { bestD = acc; bestC = c }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(bestC, bestD))
  }

  /** One bucket per hash table: table `t` packs the sign bits of plane
    * projections for global plane indices `t*ppt until (t+1)*ppt` (bit `j`
    * set when the projection against plane `t*ppt+j` is >= 0). `w` is the
    * flattened plane matrix, row-major: plane `p`'s weight for dimension
    * `d` at `w(p*dims + d)` — the same md5-derived values as
    * `Similarity.planeWeightJvm`.
    */
  def lshBands(vec: ArrayData, w: Array[Double], tables: Int, ppt: Int, dims: Int): ArrayData = {
    val bands = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < ppt) {
        val off = (t * ppt + j) * dims
        var proj = 0.0
        var d = 0
        while (d < dims) { proj += w(off + d) * vec.getFloat(d).toDouble; d += 1 }
        if (proj >= 0) bucket |= 1L << j
        j += 1
      }
      bands(t) = bucket
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(bands)
  }
}

/** `graft_unit_normalize(array<float>) -> array<double>`: codegen'd
  * unit-normalization of an embedding column.
  */
case class UnitNormalizeF32(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_unit_normalize expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_unit_normalize"
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.unitNormalize(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.unitNormalize($c)")
  override protected def withNewChildInternal(newChild: Expression): UnitNormalizeF32 =
    copy(child = newChild)
}

/** `graft_ewma(array<double>) -> double`: codegen'd α=1/2 EWMA left fold
  * in element order. One pass, no lambda interpretation — the
  * whole-stage-codegen replacement for the `aggregate` HOF fold in
  * [[graft.ops.TimeSeries.ewma]] (equivalence-tested bit-for-bit).
  */
case class EwmaHalfF64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ewma expects array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ewma"
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.ewmaHalf(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double ${ev.value}_r = graft.functions.VectorKernels.ewmaHalf($c);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }
    """)
  override protected def withNewChildInternal(newChild: Expression): EwmaHalfF64 =
    copy(child = newChild)
}

/** `graft_dot(array<double>, array<double>) -> double`: codegen'd
  * index-order dot product (cosine of pre-normalized vectors).
  */
case class DotProductF64(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotF64(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dotF64($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF64 =
    copy(left = newLeft, right = newRight)
}

/** `graft_kmeans_assign(array<bigint>, array<bigint>) -> array<bigint>`:
  * codegen'd integer k-means assignment — `[bestCid, bestSqDist]` of the
  * vector against the row-major flattened centroid array. The integer
  * Lloyd loop keeps its round state, the centroids, on the driver and
  * passes them here as a literal, so a round plans no broadcast or cross
  * join. That holds at 100 TB: the k·d longs are the ones a broadcast
  * passed through the driver anyway, and driver state outlives any
  * executor. A null vector element raises instead of reading as 0.
  */
case class KmeansAssignI64(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kmeans_assign expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_kmeans_assign"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sqDistArgmin(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.sqDistArgmin($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmeansAssignI64 =
    copy(left = newLeft, right = newRight)
}

/** `graft_lsh_bands(vec, tables, planesPerTable, dims) -> array<bigint>`:
  * codegen'd multi-table LSH bucket assignment. The int parameters must be
  * foldable literals (the SQL builder folds them at registration); the
  * plane matrix is derived once on the driver and shipped to generated
  * code as a plan reference — per-row work is `tables*ppt*dims`
  * multiply-adds, zero hashing. With `tables=1, planesPerTable=planes`
  * element 1 is exactly `Similarity.lshBucket(vec, planes, dims)`.
  */
case class LshBandsF32(vec: Expression, tables: Int, planesPerTable: Int, dims: Int)
    extends UnaryExpression {
  require(tables > 0 && planesPerTable > 0 && planesPerTable <= 63 && dims > 0,
    s"bad LSH geometry: tables=$tables planesPerTable=$planesPerTable dims=$dims")

  override def child: Expression = vec

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_bands expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_bands"

  // Flattened row-major plane matrix: built lazily on first use (driver
  // side for codegen — shipped via addReferenceObj — or per-executor for
  // interpreted eval; the md5 derivation is deterministic either way).
  @transient private lazy val wFlat: Array[Double] = {
    val planes = tables * planesPerTable
    val w = new Array[Double](planes * dims)
    var p = 0
    while (p < planes) {
      var d = 0
      while (d < dims) {
        w(p * dims + d) = graft.ops.Similarity.planeWeightJvm(p, d)
        d += 1
      }
      p += 1
    }
    w
  }

  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.lshBands(input.asInstanceOf[ArrayData], wFlat, tables, planesPerTable, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("lshPlanes", wFlat, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.lshBands(" +
        s"$c, $wRef, $tables, $planesPerTable, $dims);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandsF32 =
    copy(vec = newChild)
}
