package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Whole-stage-codegen distance kernels over `ARRAY<FLOAT|DOUBLE>`.
  *
  * The higher-order-function forms in [[VectorOps]]
  * (`aggregate(zip_with(...))`) are semantically right but allocate an
  * intermediate array per row pair — measurable at millions of pairs
  * (dedup/knn joins). These expressions emit a bare fused loop instead —
  * the true Spark analogue of the reference's SIMD kernels
  * (vers/src/indexes/base.rs:158-293): same arithmetic, a physical
  * rewrite only.
  *
  * Precision contract (MUST match VectorOps + the DuckDB oracle): each
  * element is widened to double BEFORE arithmetic; accumulation starts at
  * 0.0 and runs left-to-right. Bit-identical to the HOF forms.
  *
  * Nulls: a null array → null result; null *elements* are not expected
  * (engine inputs are dense numeric vectors) and read as 0.0. Length
  * mismatch iterates the shorter prefix.
  *
  * The element loop lives in one compiled method per kernel
  * ([[ArrayMath.sqDist]], [[ArrayMath.dot]]), which both the generated
  * code and the interpreted `nullSafeEval` call. Spark compiles a new
  * class for every plan it has not cached (and again after its codegen
  * cache evicts one), and a new class starts out interpreted; with the
  * loop inlined there, such a stage ran its per-pair distances several
  * times slower until the JIT caught up. The shared method stays
  * compiled from one query to the next.
  */
abstract class FusedVecFold extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<FLOAT|DOUBLE> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  /** Whether `e`'s elements are FLOAT (else DOUBLE). */
  protected def floatElems(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType  => true
      case DoubleType => false
      case t => throw new IllegalArgumentException(s"unsupported element type $t")
    }

  /** Generated code: one call of the shared kernel `fn`. */
  protected def callKernel(ctx: CodegenContext, ev: ExprCode, fn: String): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ArrayMath.$fn($a, $b, ${floatElems(left)}, ${floatElems(right)});")
}

/** Σ (aᵢ−bᵢ)² in double — fused-loop twin of `VectorOps.sqDist`
  * (base.rs:119-126 semantics). */
case class SqDistExpr(left: Expression, right: Expression) extends FusedVecFold {
  override def nullSafeEval(l: Any, r: Any): Any =
    ArrayMath.sqDist(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      floatElems(left), floatElems(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, "sqDist")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Σ aᵢ·bᵢ in double — fused-loop twin of `VectorOps.dot`
  * (base.rs:91-93 semantics). */
case class DotExpr(left: Expression, right: Expression) extends FusedVecFold {
  override def nullSafeEval(l: Any, r: Any): Any =
    ArrayMath.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      floatElems(left), floatElems(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, "dot")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object ArrayMath {
  import org.apache.spark.sql.GraftShims

  /** Σ (aᵢ−bᵢ)² over the shared prefix, each element widened to double
    * (FLOAT when its `*Float` flag is set, else DOUBLE), folded left to
    * right from 0.0. */
  def sqDist(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    (a, b) match {
      // the corpus' own layout: a direct, inlinable element read
      case (x: UnsafeArrayData, y: UnsafeArrayData) if aFloat && bFloat =>
        while (i < n) { val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble; s += d * d; i += 1 }
      case _ =>
        while (i < n) { val d = elem(a, i, aFloat) - elem(b, i, bFloat); s += d * d; i += 1 }
    }
    s
  }

  /** Σ aᵢ·bᵢ over the shared prefix, widened and folded as [[sqDist]]. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    (a, b) match {
      case (x: UnsafeArrayData, y: UnsafeArrayData) if aFloat && bFloat =>
        while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      case _ =>
        while (i < n) { s += elem(a, i, aFloat) * elem(b, i, bFloat); i += 1 }
    }
    s
  }

  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def sqDistFused(a: Column, b: Column): Column =
    GraftShims.column(SqDistExpr(GraftShims.expression(a), GraftShims.expression(b)))
  def dotFused(a: Column, b: Column): Column =
    GraftShims.column(DotExpr(GraftShims.expression(a), GraftShims.expression(b)))
}
