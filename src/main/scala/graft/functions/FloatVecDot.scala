package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Native Catalyst expression: dot product of two float vectors, summed
  * sequentially in double, with `doGenCode` so it runs inside whole-stage
  * codegen instead of the interpreted higher-order-function path (HOFs are
  * CodegenFallback; on the similarity benchmark the interpreted fold
  * dominated). Null if either side is null.
  *
  * Equivalence contract: bit-identical to the HOF
  * `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, _+_)` fold it replaces
  * ONLY for equal-length arrays with no null elements — the embeddings
  * contract. Outside it the two diverge deliberately: on a length
  * mismatch zip_with null-pads and the fold returns NULL, while this
  * expression iterates min(len) and returns the finite partial sum; a
  * null element nullifies the HOF fold but reads as 0.0 here
  * (`getFloat` on a null slot). min(len) + null-as-zero is the useful
  * total semantics for a scoring kernel; callers needing strict
  * validation should pre-check `size(a) = size(b)`.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"vec_dot requires two array<float> arguments, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}
