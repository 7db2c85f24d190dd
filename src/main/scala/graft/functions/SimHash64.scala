package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the 64-bit SimHash signature: token array → 16-hex
  * signature in one pass inside a projection — no token explode, no
  * 64-conditional-sum aggregation, zero shuffles. The relational
  * formulation ([[graft.operators.Dedup.simhashSignature]]) stays as the
  * oracle-documented reference; this kernel is bit-identical to it:
  *
  *   - per token: md5, read hex digit p (p∈0..15) as the nibble of byte
  *     p/2 (high nibble for even p — hex-string position order);
  *   - per bit b (b∈0..3): accumulate +1 when `(digit >> b) & 1` else −1
  *     over all tokens (multiset — duplicates count, like the relational
  *     path, which never dedups tokens);
  *   - signature hex digit p = Σ_b (count(p,b) > 0 ? 1<<b : 0).
  *
  * An empty token array yields "0000000000000000"; callers that must
  * match the relational path's doc set (where an empty doc simply has no
  * rows to aggregate) filter `size(tokens) > 0` first.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    SimHash64.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHash64$$.MODULE$$.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val HexChars = "0123456789abcdef".toCharArray

  /** One pass over the token array → 16-hex signature. Called from both
    * the interpreted eval and the generated code. */
  def compute(tokens: ArrayData): UTF8String = {
    val md = digest.get()
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      // null elements are skipped (inputs from TextAnalysis.tokens never
      // contain them; a defensive guard beats an executor NPE)
      if (!tokens.isNullAt(i)) {
        md.reset()
        val d = md.digest(tokens.getUTF8String(i).getBytes)
        var p = 0
        while (p < 16) {
          val byte = d(p >> 1) & 0xff
          val dig = if ((p & 1) == 0) byte >>> 4 else byte & 0xf
          var b = 0
          while (b < 4) {
            val idx = p * 4 + b
            if (((dig >> b) & 1) == 1) counts(idx) += 1 else counts(idx) -= 1
            b += 1
          }
          p += 1
        }
      }
      i += 1
    }
    val out = new Array[Char](16)
    var p = 0
    while (p < 16) {
      var dig = 0
      var b = 0
      while (b < 4) {
        if (counts(p * 4 + b) > 0) dig |= (1 << b)
        b += 1
      }
      out(p) = HexChars(dig)
      p += 1
    }
    UTF8String.fromString(new String(out))
  }
}
