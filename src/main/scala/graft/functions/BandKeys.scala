package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass JVM implementation of the per-row MinHash band keys —
  * bit-identical to the Column chain it accelerates (the test-side
  * `HofForms.bandKeysHofCol`: tokenize → 3-gram shingles → one md5 per
  * shingle → 16 multiply-add-mod seed mixes → per-seed minimum → one md5
  * per band over the '|'-joined minima). The Column form builds
  * and discards an array per stage per row; this walks the token list
  * once with a single reused MessageDigest and a 16-slot running-minimum
  * array — the ingest-line-rate shape for the streaming gates and the
  * compaction path, which band EVERY arriving document.
  *
  * Parity notes (each point mirrors a Spark semantic exactly):
  *  - trimming strips SPACES only (Spark's `trim`), not Java's
  *    `String.trim` ≤0x20 range — a leading control character must stay
  *    glued to its token in both engines;
  *  - `split("\\s+")` + drop-empties matches `filter(split(trim(s)))`;
  *  - shingle DISTINCTNESS is irrelevant under min (a duplicate shingle
  *    cannot change a minimum), so no set is materialized;
  *  - the digest's hex quarters are reconstructed byte-wise
  *    (chars [8q, 8q+8) = bytes [4q, 4q+4) big-endian), matching
  *    `conv(substring(hex, 1+8q, 8), 16, 10)`;
  *  - minima render with `Long.toString` — the BIGINT→STRING cast.
  * Docs with fewer than 3 tokens return the EMPTY array (no evidence of
  * duplication), and a NULL input returns NULL — both exactly as the
  * Column chain behaves. EventStreamSpec pins corpus-wide equality.
  */
object BandKeysUtil {
  import graft.queries.TextQueries.{Bands, MixMod, NumHashes, RowsPerBand, mixA, mixB}

  private val MixA: Array[Long] = Array.tabulate(NumHashes)(mixA)
  private val MixB: Array[Long] = Array.tabulate(NumHashes)(mixB)

  /** Spark `trim`: spaces (0x20) only. */
  private def sparkTrim(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    val digits = "0123456789abcdef"
    var i = 0
    while (i < d.length) {
      out(2 * i) = digits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = digits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def compute(text: UTF8String): ArrayData = {
    val toks = sparkTrim(text.toString).split("\\s+").filter(_.nonEmpty)
    if (toks.length < 3) return new GenericArrayData(Array.empty[Any])
    // ONE minima definition shared with the minhash_sigs expression
    // (round 12) — band keys are the banded rendering of the same 16
    // numbers, so the two natives cannot drift from each other
    val mins = MinhashSigsUtil.minima(toks)
    val md = java.security.MessageDigest.getInstance("MD5")
    val keys = new Array[Any](Bands)
    var b = 0
    while (b < Bands) {
      val sb = new java.lang.StringBuilder
      var j = b * RowsPerBand
      while (j < (b + 1) * RowsPerBand) {
        if (j > b * RowsPerBand) sb.append('|')
        sb.append(mins(j))
        j += 1
      }
      keys(b) = UTF8String.fromString(hex(md.digest(sb.toString.getBytes("UTF-8"))))
      b += 1
    }
    new GenericArrayData(keys)
  }
}

/** `band_keys(text)` — see [[BandKeysUtil]]. Codegen emits one static
  * call, so the expression stays inside whole-stage codegen (no
  * CodegenFallback interpreter hop in the ingest path). */
case class BandKeys(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "band_keys"

  override def nullSafeEval(input: Any): Any =
    BandKeysUtil.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BandKeysUtil.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): BandKeys =
    copy(child = newChild)
}
