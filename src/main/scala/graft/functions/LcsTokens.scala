package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: TOKEN-level longest-common-subsequence
  * length — the core of ROUGE-L (Lin 2004: ROUGE operates on word
  * units, not characters). `lcs_tokens(a, b)` whitespace-tokenizes
  * both strings (empties dropped — the [[graft.operators.TextAnalysis
  * .tokens]] convention) and runs the classic two-row DP: O(m·n) time,
  * O(min-side) memory per row, inside whole-stage codegen (a Scala UDF
  * would leave it — the [[JaroWinkler]] stance). The oracle replays
  * the same DP as an anti-diagonal recursion (cells on one diagonal
  * are independent, so the sequential-in-j dependency disappears and
  * a recursive CTE can carry whole diagonals as lists). Guard: sides
  * are capped at 4096 tokens each — ROUGE is a per-example eval
  * metric, and an unbounded m·n inside a row expression is a job
  * killer, not a metric. */
case class LcsTokens(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"lcs_tokens requires two string arguments, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    LcsTokens.compute(
      l.asInstanceOf[UTF8String].toString,
      r.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.LcsTokens.compute(" +
        s"$a.toString(), $b.toString());"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LcsTokens =
    copy(left = newLeft, right = newRight)
}

object LcsTokens {

  val MaxTokens = 4096

  def compute(a: String, b: String): Int = {
    val ta = a.split("\\s+").filter(_.nonEmpty)
    val tb = b.split("\\s+").filter(_.nonEmpty)
    require(ta.length <= MaxTokens && tb.length <= MaxTokens,
      s"lcs_tokens: side exceeds $MaxTokens tokens " +
        s"(${ta.length}/${tb.length}) — ROUGE is a per-example metric; " +
        "truncate or chunk upstream")
    if (ta.isEmpty || tb.isEmpty) return 0
    // two-row DP over the shorter side for memory locality
    val (xs, ys) = if (ta.length >= tb.length) (ta, tb) else (tb, ta)
    var prev = new Array[Int](ys.length + 1)
    var cur = new Array[Int](ys.length + 1)
    var i = 1
    while (i <= xs.length) {
      var j = 1
      while (j <= ys.length) {
        cur(j) =
          if (xs(i - 1) == ys(j - 1)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(ys.length)
  }
}
