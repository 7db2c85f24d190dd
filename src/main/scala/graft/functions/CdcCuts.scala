package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Native kernel for content-defined chunking boundaries:
  * `cdc_cuts(toks, k, divisor)` returns the document's full cut-position
  * array `[0, …mid cuts…, n]` in ONE pass inside a projection.
  *
  * Replaces the HOF formulation in
  * [[graft.operators.TextAnalysis.cdcChunks]], whose nested lambdas
  * re-evaluated the whole shingle array per gram index (interpreted
  * HigherOrderFunction evaluation — O(n²·k) string work per document)
  * and ran an interpreted md5 per element. Here each k-gram is joined
  * once and hashed once: O(n·k).
  *
  * Bit-parity contract with the relational path (and the DuckDB
  * oracle): gram j (1-based) is the space-join of tokens j…j+k−1; a
  * boundary falls after token j+k−1 exactly when
  * [[graft.operators.Sampling.bucketOfKey]]'s
  * `conv(substr(md5(gram), 1, 8), 16, 10) % divisor == 0`; boundaries
  * at position ≥ n are dropped (the final cut at n is implicit and
  * appended); 0 is prepended. Docs with fewer than k tokens get
  * `[0, n]` — one chunk. Null array elements cannot occur (tokens()
  * never yields them); a null array returns null (callers filter). */
case class CdcCuts(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        (second.eval(), third.eval()) match {
          case (k: Int, d: Int) if k >= 1 && d >= 2 =>
            TypeCheckResult.TypeCheckSuccess
          case (k, d) => TypeCheckResult.TypeCheckFailure(
            s"cdc_cuts needs k >= 1 and divisor >= 2, got k=$k, divisor=$d")
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        "cdc_cuts requires (array<string>, int literal, int literal), got " +
          s"${first.dataType.catalogString} / ${second.dataType.catalogString}" +
          s" / ${third.dataType.catalogString}")
    }

  @transient private lazy val k = second.eval().asInstanceOf[Int]
  @transient private lazy val divisor = third.eval().asInstanceOf[Int]

  override def nullSafeEval(a: Any, kk: Any, dd: Any): Any =
    CdcCuts.compute(a.asInstanceOf[ArrayData], k, divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _, _) =>
      s"${ev.value} = graft.functions.CdcCuts$$.MODULE$$" +
        s".compute($a, $k, $divisor);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): CdcCuts = copy(f, s, t)
}

object CdcCuts {

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** One pass over the token array → `[0, …content cuts…, n]`. Called
    * from both the interpreted eval and the generated code. */
  def compute(toks: ArrayData, k: Int, divisor: Int): ArrayData = {
    val n = toks.numElements()
    val md = digest.get()
    val cuts = scala.collection.mutable.ArrayBuffer[Int](0)
    var j = 0 // 0-based gram start; gram covers toks[j .. j+k-1]
    val sb = new java.lang.StringBuilder(64)
    while (j + k <= n) {
      sb.setLength(0)
      var t = 0
      while (t < k) {
        if (t > 0) sb.append(' ')
        sb.append(toks.getUTF8String(j + t).toString)
        t += 1
      }
      val cut = j + k // 0-based position AFTER the gram's last token
      if (cut < n) {
        val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
        if (CharGramTf.md5Bucket(md, bytes, 0, bytes.length, divisor) == 0L)
          cuts += cut
      }
      j += 1
    }
    cuts += n
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(cuts.toArray)
  }
}
