package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Structured orthogonal rotation y = (1/√d)·H·D·x — the "random
  * rotation" of OPQ-lite / QuickADC / RaBitQ, built from a fast
  * Walsh–Hadamard transform H (O(d log d), no matrix materialized) and
  * a deterministic ±1 diagonal D. Orthogonal ⇒ L2 distances, norms and
  * inner products are preserved exactly in real arithmetic, so any
  * index built over rotated vectors answers the original metric; what
  * changes is the COORDINATE SYSTEM: energy concentrated in a few
  * correlated dimensions is spread uniformly, which is what product
  * quantizers (balanced subspace variance) and sign quantizers
  * (informative bits on every axis) need at scale.
  *
  * Engine-portability contract (the vec_rotate oracle replays all of
  * it in SQL): D's signs are md5-addressed (first hex char of
  * md5(index) in 8..f ⇒ +1, the [[graft.operators.TextOps]] simhash
  * idiom — no JVM RNG); inputs are double-widened before the
  * butterflies; each butterfly stage reads the previous stage's values
  * (a+b / a−b, stage order half = 1, 2, 4, …); the final scale is one
  * multiply by 1/√padLen. Non-power-of-two dims are zero-padded (norm
  * unchanged); output keeps the padded length.
  */
object Rotate {

  /** Column form: ARRAY<FLOAT|DOUBLE> → ARRAY<DOUBLE> of the padded
    * power-of-two length. */
  def rotate(vec: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(RotateExpr(GraftShims.expression(vec)))
  }

  /** SplitMix64 finalizer (Stafford mix13): the engine's one
    * deterministic 64-bit mixer. LSHForest sample choice, PQ training
    * samples and the synthetic fixtures all seed from it, so the
    * oracle hashes depend on its exact bits. */
  @inline def mix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  @volatile private var signCache: Array[Boolean] = Array.empty

  /** +1 sign for index i iff the first hex char of md5(i.toString) is
    * 8..f (top bit of the first digest byte). Cached, append-only. */
  def signPositive(i: Int): Boolean = {
    var c = signCache
    if (i >= c.length) synchronized {
      c = signCache
      if (i >= c.length) {
        val n = math.max(16, Integer.highestOneBit(i) * 2)
        val md = java.security.MessageDigest.getInstance("MD5")
        val out = new Array[Boolean](n)
        var j = 0
        while (j < n) {
          val d = md.digest(j.toString.getBytes("UTF-8"))
          out(j) = (d(0) & 0x80) != 0
          md.reset()
          j += 1
        }
        signCache = out
        c = out
      }
    }
    c(i)
  }

  /** The full kernel on a double buffer already sign-flipped and
    * zero-padded: iterative FWHT + 1/√n scale. */
  def fwhtInPlace(buf: Array[Double]): Unit = {
    val n = buf.length
    var half = 1
    while (half < n) {
      var i = 0
      while (i < n) {
        var j = i
        val end = i + half
        while (j < end) {
          val a = buf(j); val b = buf(j + half)
          buf(j) = a + b
          buf(j + half) = a - b
          j += 1
        }
        i += 2 * half
      }
      half *= 2
    }
    val inv = 1.0 / math.sqrt(n.toDouble)
    var k = 0
    while (k < n) { buf(k) *= inv; k += 1 }
  }

  def padLenOf(n: Int): Int = {
    var p = 1
    while (p < n) p *= 2
    p
  }

  /** JVM-side kernel (query/residual paths of the rotated index tiers):
    * same sign-flip → pad → FWHT → 1/√n as [[transform]], over a plain
    * double vector. */
  def rotateD(v: Array[Double]): Array[Double] = {
    val buf = new Array[Double](padLenOf(v.length))
    var i = 0
    while (i < v.length) {
      buf(i) = if (signPositive(i)) v(i) else -v(i)
      i += 1
    }
    fwhtInPlace(buf)
    buf
  }

  /** Float-frame variant: rotate in double, round each coordinate to
    * float32 — the coordinate contract of the rotated PQ tier (the
    * rotated corpus is "just another float corpus" to the codebooks;
    * the oracle replays the rounding as CAST(x AS REAL)). */
  def rotateF(v: Array[Float]): Array[Float] = {
    val d = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { d(i) = v(i).toDouble; i += 1 }
    rotateD(d).map(_.toFloat)
  }

  /** Runtime helper shared by eval and codegen. */
  def transform(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val padLen = padLenOf(n)
    val buf = new Array[Double](padLen)
    var i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      buf(i) = if (signPositive(i)) x else -x
      i += 1
    }
    fwhtInPlace(buf)
    new GenericArrayData(buf)
  }
}

/** ARRAY<FLOAT|DOUBLE> → ARRAY<DOUBLE>: (1/√d)·H·D·x, zero-padded to a
  * power of two. Codegen delegates to the [[Rotate.transform]] kernel
  * (a per-value static call inside the generated loop — no row
  * boxing). */
case class RotateExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"rotate requires ARRAY<FLOAT|DOUBLE>, got ${t.simpleString}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    Rotate.transform(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Rotate.transform($a, $isFloat);")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
