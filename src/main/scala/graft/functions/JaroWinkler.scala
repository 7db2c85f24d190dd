package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Jaro-Winkler similarity — the standard
  * entity-resolution string scorer (names, addresses, product titles),
  * complementing the `levenshtein` builtin: edit distance counts ANY
  * edit equally, Jaro-Winkler weighs matching characters within a
  * sliding window, halves transpositions, and boosts shared prefixes —
  * the behavior name-matching actually wants.
  *
  * Exact contract, pinned empirically against DuckDB's
  * `jaro_winkler_similarity` (0/4000 randomized mismatches, spec +
  * oracle): either side empty ⇒ 0.0 (INCLUDING both empty — the
  * convention DuckDB ships); equal non-empty ⇒ 1.0; match window
  * `max(l1,l2)/2 − 1`; transpositions halved by integer division;
  * Winkler prefix boost `l·0.1·(1−j)` with `l ≤ 4` applied only above
  * the 0.7 boost threshold. Spark has no builtin for this; a Scala UDF
  * would leave whole-stage codegen — this expression stays inside it
  * (the [[HexHamming]] static-call pattern). Comparison is per UTF-16
  * char (ASCII-identical to the oracle's byte walk; the registered
  * fixture is ASCII).
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler requires two string arguments, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    JaroWinkler.compute(
      l.asInstanceOf[UTF8String].toString,
      r.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.JaroWinkler.compute(" +
        s"$a.toString(), $b.toString());"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Static + allocation-light so JIT inlines it into the generated
    * stage. Semantics pinned to DuckDB's jaro_winkler_similarity. */
  def compute(s1: String, s2: String): Double = {
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (s1 == s2) return 1.0
    val md = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - md)
      val hi = math.min(l2, i + md + 1)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val j = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
    if (j <= 0.7) return j
    var l = 0
    val maxP = math.min(4, math.min(l1, l2))
    while (l < maxP && s1.charAt(l) == s2.charAt(l)) l += 1
    j + l * 0.1 * (1.0 - j)
  }
}
