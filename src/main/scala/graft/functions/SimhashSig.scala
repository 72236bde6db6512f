package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-document SimHash signature — bit-identical to the
  * explode → md5 → 64 bit-vote sums → strict-positive quarter packing
  * chain it accelerates (the test-side `HofForms.simhashSigHofDF`).
  *
  * Why a custom Expression (builder brief, preference (b)): the Column
  * chain computes the signature by EXPLODING every token occurrence into
  * a row and aggregating 64 conditional sums back per doc — a corpus-wide
  * shuffle whose payload is 64 ints per token occurrence. But SimHash is
  * a pure per-document map: this walks the token array once with a
  * reused MessageDigest and a 64-slot vote array, turning the whole
  * signature base build into a shuffle-FREE projection. At 100 TB the
  * difference is an exchange of the entire tokenized corpus vs none.
  *
  * Parity notes (each point mirrors the Column chain exactly):
  *  - every token OCCURRENCE votes (duplicates are not collapsed —
  *    the chain explodes occurrences);
  *  - the md5 hex quarters are reconstructed byte-wise: hhi = hex chars
  *    [1,8] = digest bytes [0,4) big-endian, hlo = chars [9,16] = bytes
  *    [4,8) — matching `conv(substring(md5, …), 16, 10)`;
  *  - bit b < 32 reads hlo, b >= 32 reads hhi; a set bit votes +1, a
  *    clear bit −1; ties (vote sum 0) pack as 0 (strict `> 0`);
  *  - a NULL token element makes every `when(bit === 1, …)` fall through
  *    to its `otherwise(-1)` in the chain — mirrored as an all-bits −1
  *    vote (unreachable from tokenize_words, whose arrays carry no
  *    nulls, but parity holds even for hand-built arrays);
  *  - docs with ZERO tokens produce no exploded rows and vanish from the
  *    chain's aggregate — the CALLER filters `size(toks) > 0` before
  *    projecting this expression (TextQueries.simhashSigDF does).
  * SimhashSigSpec pins corpus-wide equality and the codegen path. */
object SimhashSigUtil {

  def compute(toks: ArrayData): InternalRow = {
    val votes = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) {
        var b = 0
        while (b < 64) { votes(b) -= 1; b += 1 }
      } else {
        val d = md.digest(toks.getUTF8String(i).getBytes)
        val hhi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val hlo = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var b = 0
        while (b < 64) {
          val bit = if (b < 32) (hlo >> b) & 1L else (hhi >> (b - 32)) & 1L
          votes(b) += (if (bit == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    def quarter(lo: Int): Long = {
      var q = 0L
      var j = 0
      while (j < 16) { if (votes(lo + j) > 0) q |= 1L << j; j += 1 }
      q
    }
    val (q0, q1, q2, q3) = (quarter(0), quarter(16), quarter(32), quarter(48))
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](q2 + q3 * 65536L, q0 + q1 * 65536L, q0, q1, q2, q3))
  }
}

/** `simhash_sig(toks)` — see [[SimhashSigUtil]]. Codegen emits one static
  * call, so the projection stays inside whole-stage codegen. */
case class SimhashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${t.catalogString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("sim_hi", LongType, nullable = false),
    StructField("sim_lo", LongType, nullable = false),
    StructField("b0", LongType, nullable = false),
    StructField("b1", LongType, nullable = false),
    StructField("b2", LongType, nullable = false),
    StructField("b3", LongType, nullable = false)))
  override def prettyName: String = "simhash_sig"

  override def nullSafeEval(input: Any): Any =
    SimhashSigUtil.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimhashSigUtil.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}
