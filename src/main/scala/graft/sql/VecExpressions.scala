package graft.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Primitive vector kernels for the embedding family (optimization round).
  *
  * The previous dot products were `aggregate(zip_with(a, b, …))` folds:
  * every higher-order lambda is CodegenFallback, so the hottest map work
  * of the ANN/dedup queries (≤4096 multiply-adds per row in q22's bucket
  * pass) ran interpreted, allocating a zipped array per plane per row. A
  * static element_at chain was measured WORSE (giant Add trees defeat
  * whole-stage codegen — see the dotCols note in EmbQueries); the right
  * vehicle is a custom Expression with a primitive loop, entered from
  * generated code through the [[GraftKernel]] template.
  *
  * Bit-exactness: both kernels accumulate left-to-right in IEEE double —
  * `acc += a(i)·b(i)` for ascending i — exactly the order of the previous
  * zip_with+aggregate fold AND of the DuckDB oracle's
  * `list_sum(list_transform(generate_series(1, dim), …))` mirror, so
  * every value facing the oracle is unchanged. Float elements widen to
  * double exactly; [[PlaneDots]] weights are the same
  * `(p·dim + i)·M1 % P % 2001 − 1000` integer chain as
  * `EmbQueries.planeWeights`, evaluated in Long (no overflow at any used
  * plane index) and widened exactly. */
object VecKernels {
  /** element i of a float-or-double array, widened to double. */
  @inline private[sql] def elem(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
}

/** vec_dot(a, b): exact sequential-order dot product of two numeric
  * arrays. Mirrors the zip_with+aggregate semantics it replaces: unequal
  * lengths or any null element yield NULL (zip_with pads with null and a
  * null poisons the fold). Two array<bigint> inputs dot in pure Long
  * arithmetic and return BIGINT (the q99 integer-projection dot — exact
  * under any accumulation order, so the kernel IS the fold it replaces). */
case class VecDot(left: Expression, right: Expression)
    extends GraftBinary with NullableResult { // ragged or null-element inputs
  @transient private lazy val bothLong =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType &&
      right.dataType.asInstanceOf[ArrayType].elementType == LongType
  override def dataType: DataType = if (bothLong) LongType else DoubleType
  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    def lng(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if ((ok(left.dataType) && ok(right.dataType)) ||
        (lng(left.dataType) && lng(right.dataType)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects two array<float|double> or two array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  def compute(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    val bd = b.asInstanceOf[ArrayData]
    val n = ad.numElements()
    if (bd.numElements() != n) return null
    if (bothLong) {
      var acc = 0L
      var i = 0
      while (i < n) {
        if (ad.isNullAt(i) || bd.isNullAt(i)) return null
        acc += ad.getLong(i) * bd.getLong(i)
        i += 1
      }
      acc
    } else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (ad.isNullAt(i) || bd.isNullAt(i)) return null
        acc += VecKernels.elem(ad, leftFloat, i) * VecKernels.elem(bd, rightFloat, i)
        i += 1
      }
      acc
    }
  }
  override def prettyName: String = "vec_dot"
}

/** sig_matches(a, b): count of positions where two packed signature
  * arrays agree — n_match/128 estimates Jaccard (the q18 refine). An
  * integer count, so accumulation order cannot matter: the kernel is
  * bit-identical to the `aggregate(zip_with(a, b, eq?1:0))` fold it
  * replaces. Null semantics mirror that fold exactly: zip_with pads the
  * shorter array with null and `when(x === y, 1).otherwise(0)` sends any
  * null comparison to 0, so the count runs over i < min(len) and skips
  * null elements — never returning null for non-null array inputs. */
case class SigMatches(left: Expression, right: Expression) extends GraftBinary {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def lng(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (lng(left.dataType) && lng(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sig_matches expects two array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  def compute(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    val bd = b.asInstanceOf[ArrayData]
    val n = math.min(ad.numElements(), bd.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!ad.isNullAt(i) && !bd.isNullAt(i) && ad.getLong(i) == bd.getLong(i))
        acc += 1L
      i += 1
    }
    acc
  }
  override def prettyName: String = "sig_matches"
}

/** jl_project(emb, s): the q99 Johnson–Lindenstrauss projection as ONE
  * primitive pass — quantize each of the Dim doubles to a symmetric int
  * code (`floor(emb[i]·levels / s[i] + 0.5)`, the exact IEEE op order of
  * the jlCodes transform and the DuckDB oracle), then all JlDim integer
  * plane dots over the planeWeights chain at JlSeedOffset. Replaces two
  * interpreted HOF stages (a 64-element `transform` + a 16×64
  * `aggregate`) AND the intermediate `codes` checkpoint: every product
  * and sum is BIGINT (|y_j| ≤ 64·63·1000 ≈ 4e6 — no overflow), so the
  * result is independent of accumulation order and bit-identical to the
  * fold it replaces. A null element or a length other than Dim makes
  * the whole projection NULL (interpreted and codegen'd alike — it is a
  * [[NullableResult]]); `jlProjected` then drops the row, since vec_dot
  * of a null array is null and fails its `norm2 > 0` filter. */
case class JlProject(left: Expression, right: Expression)
    extends GraftBinary with NullableResult {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def dbl(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (dbl(left.dataType) && dbl(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"jl_project expects (array<float|double>, array<double>), got ${left.dataType} / ${right.dataType}")
  }

  @transient private lazy val embFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val sFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType
  /** flattened [plane][dim] LONG weight matrix — the planeWeights integer
    * chain at JlSeedOffset, computed once per expression instance. */
  @transient private lazy val weights: Array[Long] = {
    val dim = graft.queries.EmbQueries.Dim
    val nPlanes = graft.queries.EmbQueries.JlDim
    val base = graft.queries.EmbQueries.JlSeedOffset
    val w = new Array[Long](nPlanes * dim)
    var j = 0
    while (j < nPlanes) {
      var i = 0
      while (i < dim) {
        w(j * dim + i) = ((base + j) * dim + i) * graft.model.Pages.M1 %
          graft.model.Pages.P % 2001L - 1000L
        i += 1
      }
      j += 1
    }
    w
  }

  def compute(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    val sd = b.asInstanceOf[ArrayData]
    val dim = graft.queries.EmbQueries.Dim
    val nPlanes = graft.queries.EmbQueries.JlDim
    val levels = graft.queries.EmbQueries.JlLevels
    if (ad.numElements() != dim || sd.numElements() != dim) return null
    val codes = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (ad.isNullAt(i) || sd.isNullAt(i)) return null
      codes(i) = math.floor(VecKernels.elem(ad, embFloat, i) * levels /
        VecKernels.elem(sd, sFloat, i) + 0.5).toLong
      i += 1
    }
    val out = new Array[Long](nPlanes)
    var j = 0
    while (j < nPlanes) {
      var acc = 0L
      val off = j * dim
      i = 0
      while (i < dim) {
        acc += weights(off + i) * codes(i)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }
  override def prettyName: String = "jl_project"
}

/** plane_dots(emb, base, count): dot products of `emb` against the
  * deterministic pseudo-random hyperplanes `base … base+count−1` of the
  * shared planeWeights index space (LSH tables, IVF centroid directions,
  * SemDeDup sub-cells all live in it at different offsets). One primitive
  * pass computes all `count` planes — the weight matrix is materialized
  * once per expression instance, never per row. */
case class PlaneDots(child: Expression, base: Expression, count: Expression)
    extends GraftTernary with NullableResult { // wrong-length or null-element input
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val embOk = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (embOk && base.foldable && base.dataType == IntegerType &&
        count.foldable && count.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "plane_dots expects (array<float|double>, int literal, int literal)")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val baseIdx =
    base.eval(null).asInstanceOf[Int]
  @transient private lazy val nPlanes =
    count.eval(null).asInstanceOf[Int]
  /** flattened [plane][dim] weight matrix — the EmbQueries.planeWeights
    * integer chain, computed once per instance. Dim is fixed by the
    * engine's embedding schema (EmbQueries.Dim). */
  @transient private lazy val weights: Array[Double] = {
    val dim = graft.queries.EmbQueries.Dim
    val w = new Array[Double](nPlanes * dim)
    var j = 0
    while (j < nPlanes) {
      var i = 0
      while (i < dim) {
        w(j * dim + i) =
          (((baseIdx + j).toLong * dim + i) * graft.model.Pages.M1 %
            graft.model.Pages.P % 2001L - 1000L).toDouble
        i += 1
      }
      j += 1
    }
    w
  }

  def compute(a: Any, b: Any, c: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    val dim = graft.queries.EmbQueries.Dim
    val n = ad.numElements()
    if (n != dim) return null
    val out = new Array[Double](nPlanes)
    var j = 0
    while (j < nPlanes) {
      var acc = 0.0
      val off = j * dim
      var i = 0
      while (i < dim) {
        if (ad.isNullAt(i)) return null
        acc += VecKernels.elem(ad, isFloat, i) * weights(off + i)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }
  override def prettyName: String = "plane_dots"
}
