package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Static one-pass kernels over Catalyst ArrayData — primitive loops, no
  * boxing, no per-element lambda dispatch. Called from both interpreted eval
  * and generated code, so the arithmetic (sequential double accumulation,
  * float widened exactly to double) is identical everywhere — including the
  * DuckDB oracle's `list_sum(list_transform(...))` formulation.
  */
object VectorKernels {
  /** A NULL element would read as 0.0 through Unsafe/Generic ArrayData
    * getters — a plausible-but-wrong similarity no parity test can catch
    * (same fail-don't-corrupt contract as [[checkDims]]).
    */
  @inline private def get(a: ArrayData, i: Int, isFloat: Boolean): Double = {
    if (a.isNullAt(i))
      throw new IllegalArgumentException(
        s"null vector element at index $i — a mis-joined or corrupt embedding must fail, not read as 0.0")
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
  }

  /** Ragged or mis-joined embeddings must FAIL, not silently truncate to the
    * shorter vector — a truncated dot product is a plausible-but-wrong
    * similarity that no parity test can catch (oracle data is fixed-dim).
    */
  @inline private def checkDims(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"vector dimension mismatch: ${n} vs ${b.numElements()}")
    n
  }

  def dot(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): Double = {
    val n = checkDims(a, b)
    var s = 0.0
    var i = 0
    while (i < n) { s += get(a, i, af) * get(b, i, bf); i += 1 }
    s
  }

  /** dot/(|a|·|b|) in one pass; each accumulator is the same left-to-right
    * double sum a three-pass formulation would produce.
    */
  def cosine(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): Double = {
    val n = checkDims(a, b)
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, i, af); val y = get(b, i, bf)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Base for binary vector→double expressions with full codegen (the call
  * sites stay inside WholeStageCodegen; the kernel is a static JVM method).
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  // analysis-time type error (like the SRP/winnow expressions) instead of
  // an opaque IllegalArgumentException from codegen mid-stage
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<float|double> inputs, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  protected def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(s"expected array<float|double>, got $other")
  }
  protected def kernelName: String

  override def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  protected def kernel(a: ArrayData, b: ArrayData): Double

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (af, bf) = (isFloat(left), isFloat(right))
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.$kernelName($a, $b, $af, $bf)")
  }
}

case class CosineSimExpr(left: Expression, right: Expression) extends VectorBinaryExpression {
  override protected def kernelName: String = "cosine"
  override protected def kernel(a: ArrayData, b: ArrayData): Double =
    VectorKernels.cosine(a, b, isFloat(left), isFloat(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class DotProductExpr(left: Expression, right: Expression) extends VectorBinaryExpression {
  override protected def kernelName: String = "dot"
  override protected def kernel(a: ArrayData, b: ArrayData): Double =
    VectorKernels.dot(a, b, isFloat(left), isFloat(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** Column-level API. */
object VectorOps {
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimExpr(GraftBridge.expr(a), GraftBridge.expr(b)))
  def dotProduct(a: Column, b: Column): Column =
    GraftBridge.column(DotProductExpr(GraftBridge.expr(a), GraftBridge.expr(b)))
}
