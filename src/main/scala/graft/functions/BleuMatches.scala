package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for BLEU counting: `bleu_matches(ref, hyp)` takes one
  * example's raw ref/hyp strings and returns the four clipped token-
  * n-gram match counts `[m1 … m4]` in ONE pass inside a projection —
  * the [[ChrfMatches]] move at the token level.
  *
  * Collapses the relational formulation (8 explode branches — 4 orders
  * × 2 sides — → (id, order, gram)-keyed counting aggregation →
  * (id, order) clip-sum) into map-only work: NO explode, NO shuffle.
  *
  * Bit-parity contract with the relational path (and the DuckDB
  * oracle): tokens are the `\s+`-split non-empty pieces (the
  * [[graft.operators.TextAnalysis.tokens]] convention — the
  * [[LcsTokens]] parity precedent), grams are space-joined token runs
  * (tokens contain no whitespace, so the join is injective and gram
  * equality equals token-tuple equality), and the clipped match count
  * per order is Σ_g min(count_hyp(g), count_ref(g)) — exact integers.
  * Orders longer than a side contribute zero. Null on either side
  * returns null (callers filter nulls first, as before). */
case class BleuMatches(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"bleu_matches requires two string arguments, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    BleuMatches.compute(
      l.asInstanceOf[UTF8String].toString,
      r.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.BleuMatches$$.MODULE$$.compute(" +
        s"$a.toString(), $b.toString());"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BleuMatches =
    copy(left = newLeft, right = newRight)
}

object BleuMatches {

  val Orders = 4

  private def gram(toks: Array[String], i: Int, n: Int): String =
    if (n == 1) toks(i)
    else {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      sb.toString
    }

  /** One pass over both sides → the 4 clipped match counts. Called from
    * both the interpreted eval and the generated code. */
  def compute(ref: String, hyp: String): ArrayData = {
    val rToks = ref.split("\\s+").filter(_.nonEmpty)
    val hToks = hyp.split("\\s+").filter(_.nonEmpty)
    val out = new Array[Long](Orders)
    var n = 1
    while (n <= Orders) {
      if (rToks.length >= n && hToks.length >= n) {
        val counts = new java.util.HashMap[String, Array[Int]](
          math.max(16, hToks.length - n + 1))
        var i = 0
        while (i <= hToks.length - n) {
          val g = gram(hToks, i, n)
          val c = counts.get(g)
          if (c == null) counts.put(g, Array(1)) else c(0) += 1
          i += 1
        }
        var m = 0L
        i = 0
        while (i <= rToks.length - n) {
          val g = gram(rToks, i, n)
          val c = counts.get(g)
          if (c != null && c(0) > 0) { c(0) -= 1; m += 1L }
          i += 1
        }
        out(n - 1) = m
      }
      n += 1
    }
    new GenericArrayData(out)
  }
}
