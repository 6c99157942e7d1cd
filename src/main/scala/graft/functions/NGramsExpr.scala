package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass n-gram builder over a token array: gram i = tokens[i..i+n)
  * joined with single spaces; the trailing n−1 window positions (and any
  * window touching a NULL token) are dropped, preserving the order of the
  * survivors — exactly the semantics of the zip_with-fold DEFINITION in
  * [[graft.ops.Dedup.gramsFromTokens]] (property-tested equivalent).
  *
  * Why a kernel: the fold's higher-order lambdas (`zip_with`/`filter`)
  * evaluate INTERPRETED per element and re-allocate an intermediate array
  * per shift — the n-gram families (shingle dedup, bigram LM, sparse
  * cosine, repetition) all pay it on every document. This expression
  * builds each gram with one `UTF8String.concat` over the window and
  * stays inside WholeStageCodegen — the [[WinnowMd5Kernel]] trade.
  */
object NGramsKernel {
  private val Space = UTF8String.fromString(" ")

  def ngrams(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    val wins = len - n + 1
    if (wins <= 0) return new GenericArrayData(new Array[AnyRef](0))
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val res = new Array[AnyRef](wins)
    var outN = 0
    i = 0
    while (i < wins) {
      var ok = true
      var j = i
      while (ok && j < i + n) { if (toks(j) == null) ok = false; j += 1 }
      if (ok) {
        if (n == 1) { res(outN) = toks(i); outN += 1 }
        else {
          // interleave tokens and separators for one concat call
          val parts = new Array[UTF8String](2 * n - 1)
          var k = 0
          while (k < n) {
            parts(2 * k) = toks(i + k)
            if (k < n - 1) parts(2 * k + 1) = Space
            k += 1
          }
          res(outN) = UTF8String.concat(parts: _*)
          outN += 1
        }
      }
      i += 1
    }
    new GenericArrayData(if (outN == wins) res else java.util.Arrays.copyOf(res, outN))
  }
}

/** `ngrams(tokens, n)` → `array<string>` of space-joined n-grams. */
case class NGramsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"ngrams expects array<string>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    NGramsKernel.ngrams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NGramsKernel.ngrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NGramsOps {
  def ngrams(toks: Column, n: Int): Column =
    GraftBridge.column(NGramsExpr(GraftBridge.expr(toks), n))
}
