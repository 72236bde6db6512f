package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass whitespace word tokenizer — bit-identical to the Column chain
  * it accelerates (the test-side `HofForms.toksHofCol`:
  * `filter(split(trim(text), "\\s+"), t => t =!= "")`).
  *
  * Why a custom Expression (builder brief, preference (b)): tokenization
  * is the single most ubiquitous scalar in the engine — every quality
  * gate, annotator, n-gram base, DSIR scorer, and BPE pricer starts with
  * it — and the HOF `filter` is a CodegenFallback in Spark: each call
  * drops out of whole-stage codegen, runs a regex split that allocates an
  * array including the empty tokens, then interprets a lambda per element
  * to drop them again. This walks the UTF-8 bytes once and emits only the
  * real tokens, and its codegen is one static call, so the gates stay
  * inside whole-stage codegen at ingest line rate.
  *
  * Parity notes (each point mirrors a Spark semantic exactly):
  *  - Java regex `\s` (no UNICODE_CHARACTER_CLASS) is the ASCII set
  *    `[ \t\n\x0B\f\r]` — six single-byte code points, so a BYTE-level
  *    scan is exact: a multi-byte UTF-8 code point contains no bytes
  *    < 0x80, so NBSP/ideographic spaces do NOT split, exactly as
  *    `split("\\s+")` behaves;
  *  - `trim` (spaces only) + drop-empties is equivalent to "maximal runs
  *    of non-whitespace bytes": leading/trailing/embedded whitespace runs
  *    produce empty split slots in the HOF form, which its filter drops —
  *    the scan never materializes them;
  *  - the output is slices of the input's own byte buffer
  *    (UTF8String.fromBytes offsets) — no per-token string copies.
  * NULL input returns NULL; empty / all-whitespace input returns the
  * empty array — both exactly as the Column chain behaves.
  * TokenizeWordsSpec pins corpus-wide equality and the codegen path.
  */
object TokenizeWordsUtil {

  private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0a || b == 0x0b || b == 0x0c || b == 0x0d

  def compute(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    var count = 0
    var i = 0
    var inTok = false
    while (i < n) { // first pass: count tokens (exact-size output array)
      val ws = isWs(bytes(i))
      if (!ws && !inTok) { count += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    if (count == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (i < n) {
      if (!isWs(bytes(i))) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        out(k) = UTF8String.fromBytes(bytes, start, i - start)
        k += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }
}

/** `tokenize_words(text)` — see [[TokenizeWordsUtil]]. Codegen emits one
  * static call, so the expression stays inside whole-stage codegen. */
case class TokenizeWords(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokenize_words"

  override def nullSafeEval(input: Any): Any =
    TokenizeWordsUtil.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenizeWordsUtil.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenizeWords =
    copy(child = newChild)
}
