package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The md5/hex winnowing DEFINITION (exactly
  * `array_distinct(transform(windows, j -> array_min(transform(grams,
  * i -> substring(md5(substr(text, i, k)), 1, 8)))))` — char-substring
  * semantics, lowercase hex, lexicographic min) evaluated as a one-pass
  * kernel instead of interpreted higher-order lambdas. Values are
  * bit-identical to the expression form (property-tested), so the DuckDB
  * oracle for the md5 winnowing query keeps matching; the kernel removes
  * the per-gram Column-tree interpretation that dominated the query's cost.
  * The distinct window minima are emitted in first-occurrence order
  * (`array_distinct` semantics).
  */
object WinnowMd5Kernel {
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val n = s.numChars()
    val numGrams = n - k + 1
    val numWins = numGrams - w + 1
    if (numWins <= 0) return new GenericArrayData(Array.empty[Any])

    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = "0123456789abcdef".toCharArray
    // one O(n) pass builds the code-point → byte-offset table, then every
    // gram is a direct byte slice: UTF8String.substring(i, i+k) re-walks
    // the bytes from position 0 on EVERY call, which made this loop O(n²)
    // per document — on a 100 KB doc the quadratic walk dominated the md5
    // work the kernel exists to expose. The slice is byte-identical to
    // substring(i, i+k).getBytes (both count CODE POINTS; a 4-byte UTF-8
    // sequence is one step either way).
    val all = s.getBytes
    val offs = new Array[Int](n + 1)
    var cp = 0
    var bo = 0
    while (cp < n) {
      offs(cp) = bo
      bo += UTF8String.numBytesForFirstByte(all(bo))
      cp += 1
    }
    offs(n) = bo
    val hashes = new Array[String](numGrams)
    var i = 0
    while (i < numGrams) {
      // code-point substring == Spark's substr / DuckDB's substring
      val digest = md.digest(java.util.Arrays.copyOfRange(all, offs(i), offs(i + k)))
      val cs = new Array[Char](8)
      var b = 0
      while (b < 4) {
        cs(2 * b) = hex((digest(b) >> 4) & 0xf)
        cs(2 * b + 1) = hex(digest(b) & 0xf)
        b += 1
      }
      hashes(i) = new String(cs)
      i += 1
    }
    // monotone deque sliding minimum (O(n) total, not O(n·w));
    // lexicographic String order == the UTF8String binary order
    // array_min/min use on lowercase hex.
    val deque = new Array[Int](numGrams)
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[String]()
    val out = new Array[AnyRef](numWins)
    var outN = 0
    i = 0
    while (i < numGrams) {
      while (tail > head && hashes(deque(tail - 1)).compareTo(hashes(i)) >= 0) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) {
        val m = hashes(deque(head))
        if (seen.add(m)) { out(outN) = UTF8String.fromString(m); outN += 1 }
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, outN).asInstanceOf[Array[Any]])
  }
}

/** `winnow_md5(text, k, w)` → `array<string>` of distinct window-minimum
  * 8-hex-char md5 prefixes (first-occurrence order). Full codegen.
  */
case class WinnowMd5Expr(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k > 0 && w > 0)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow_md5 expects a string column, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    WinnowMd5Kernel.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowMd5Kernel.winnow($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

object WinnowOps {
  def winnowMd5(text: Column, k: Int, w: Int): Column =
    GraftBridge.column(WinnowMd5Expr(GraftBridge.expr(text), k, w))
}
