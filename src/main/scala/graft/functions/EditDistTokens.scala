package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: TOKEN-level Levenshtein distance — the
  * core of WER (word error rate: ASR/translation eval counts whole-word
  * substitutions/insertions/deletions, never characters — Spark's
  * built-in `levenshtein` is char-level and the wrong unit).
  * `edit_dist_tokens(a, b)` whitespace-tokenizes both strings (empties
  * dropped — the [[graft.operators.TextAnalysis.tokens]] convention)
  * and runs the classic two-row DP: O(m·n) time, O(min-side) memory
  * per row, inside whole-stage codegen (the [[LcsTokens]] stance; a
  * Scala UDF would leave codegen). The oracle replays the same DP as
  * an anti-diagonal recursion exactly like the LCS oracle, except the
  * boundary cells are non-zero (D[i][0]=i, D[0][j]=j) and dead cells
  * carry m+n+1 so they never win the `least`. Guard: sides are capped
  * at 4096 tokens each — WER is a per-example eval metric, and an
  * unbounded m·n inside a row expression is a job killer. */
case class EditDistTokens(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"edit_dist_tokens requires two string arguments, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    EditDistTokens.compute(
      l.asInstanceOf[UTF8String].toString,
      r.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.EditDistTokens.compute(" +
        s"$a.toString(), $b.toString());"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EditDistTokens =
    copy(left = newLeft, right = newRight)
}

object EditDistTokens {

  val MaxTokens = 4096

  def compute(a: String, b: String): Int = {
    val ta = a.split("\\s+").filter(_.nonEmpty)
    val tb = b.split("\\s+").filter(_.nonEmpty)
    require(ta.length <= MaxTokens && tb.length <= MaxTokens,
      s"edit_dist_tokens: side exceeds $MaxTokens tokens " +
        s"(${ta.length}/${tb.length}) — WER is a per-example metric; " +
        "truncate or chunk upstream")
    if (ta.isEmpty) return tb.length
    if (tb.isEmpty) return ta.length
    // two-row DP over the shorter side for memory locality
    val (xs, ys) = if (ta.length >= tb.length) (ta, tb) else (tb, ta)
    var prev = Array.tabulate(ys.length + 1)(identity)
    var cur = new Array[Int](ys.length + 1)
    var i = 1
    while (i <= xs.length) {
      cur(0) = i
      var j = 1
      while (j <= ys.length) {
        val cost = if (xs(i - 1) == ys(j - 1)) 0 else 1
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
          prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(ys.length)
  }
}
