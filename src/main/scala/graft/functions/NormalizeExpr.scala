package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization for ingest pipelines — the first transform a
  * web-scale text corpus needs (mixed NFC/NFD sources, fullwidth forms,
  * ligatures, combining sequences) and one Spark has NO built-in for.
  *
  * Forms: the four UAX #15 normalization forms via `java.text.Normalizer`,
  * plus `STRIP_ACCENTS` = NFD → drop combining marks (Unicode category
  * Mn) → NFC — the classic accent-fold (DuckDB's `strip_accents`,
  * Lucene's ASCIIFoldingFilter regime for Latin).
  *
  * Why an Expression and not a UDF: normalization sits on the hot path of
  * every document once; a `UnaryExpression` with `doGenCode` keeps it
  * inside WholeStageCodegen (no lambda boxing, no encoder round-trip).
  * The kernel has an ASCII fast path — `Normalizer.isNormalized` walks
  * the string once and ASCII text (the overwhelming bulk of a crawl after
  * language filtering) is normalized under every form, so the common case
  * is one scan + zero allocation, returning the input UTF8String as-is.
  */
object NormalizeKernel {
  final val NFC = 0
  final val NFD = 1
  final val NFKC = 2
  final val NFKD = 3
  final val STRIP_ACCENTS = 4

  private def form(mode: Int): java.text.Normalizer.Form = mode match {
    case NFC | STRIP_ACCENTS => java.text.Normalizer.Form.NFC
    case NFD => java.text.Normalizer.Form.NFD
    case NFKC => java.text.Normalizer.Form.NFKC
    case NFKD => java.text.Normalizer.Form.NFKD
    case other => throw new IllegalArgumentException(s"unknown normalize mode $other")
  }

  def normalize(s: UTF8String, mode: Int): UTF8String = {
    val str = s.toString
    if (mode != STRIP_ACCENTS) {
      // zero-copy fast path: already-normalized input (ASCII always is)
      if (java.text.Normalizer.isNormalized(str, form(mode))) s
      else UTF8String.fromString(java.text.Normalizer.normalize(str, form(mode)))
    } else {
      // all-ASCII fast path: ASCII is invariant under NFD and contains no
      // combining marks, so strip == identity — one byte scan, zero
      // allocation (the overwhelmingly-common corpus case; without it
      // every row paid a full NFD copy + NFC re-check)
      var ascii = true
      var b = 0
      val n = s.numBytes()
      while (ascii && b < n) {
        if ((s.getByte(b) & 0x80) != 0) ascii = false
        b += 1
      }
      if (ascii) return s
      val nfd = java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFD)
      // CODE-POINT iteration, not chars: Character.getType(char) on a
      // surrogate returns SURROGATE, never NON_SPACING_MARK, so astral Mn
      // marks (e.g. U+1E944) were neither detected nor stripped — the
      // documented "NFD → drop Mn → NFC" contract missed the whole
      // supplementary plane
      var hasMark = false
      var i = 0
      while (!hasMark && i < nfd.length) {
        val cp = nfd.codePointAt(i)
        if (Character.getType(cp) == Character.NON_SPACING_MARK) hasMark = true
        i += Character.charCount(cp)
      }
      if (!hasMark) {
        // no marks anywhere: strip == plain NFC
        if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
        else UTF8String.fromString(
          java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
      } else {
        val sb = new java.lang.StringBuilder(nfd.length)
        i = 0
        while (i < nfd.length) {
          val cp = nfd.codePointAt(i)
          if (Character.getType(cp) != Character.NON_SPACING_MARK) sb.appendCodePoint(cp)
          i += Character.charCount(cp)
        }
        UTF8String.fromString(
          java.text.Normalizer.normalize(sb.toString, java.text.Normalizer.Form.NFC))
      }
    }
  }
}

/** `normalizeText(s, mode)` → normalized string (see [[NormalizeKernel]]). */
case class NormalizeExpr(child: Expression, mode: Int) extends UnaryExpression {
  require(mode >= 0 && mode <= 4, s"mode must be 0..4, got $mode")
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"normalizeText expects string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    NormalizeKernel.normalize(input.asInstanceOf[UTF8String], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeKernel.normalize($c, $mode)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NormalizeOps {
  private def mk(c: Column, mode: Int): Column =
    GraftBridge.column(NormalizeExpr(GraftBridge.expr(c), mode))
  def nfc(c: Column): Column = mk(c, NormalizeKernel.NFC)
  def nfkc(c: Column): Column = mk(c, NormalizeKernel.NFKC)
  def stripAccents(c: Column): Column = mk(c, NormalizeKernel.STRIP_ACCENTS)
}
