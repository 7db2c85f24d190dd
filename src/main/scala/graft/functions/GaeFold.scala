package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native kernel for the GAE(λ) backward recursion:
  * `gae_fold(desc, gammaPpm, lambdaPpm)` takes one episode's steps
  * sorted DESCENDING by step (`array<struct<st,r,v>>`, exactly what
  * [[graft.operators.Preferences.trajectoryReturns]] builds) and
  * returns `array<struct<st,r,v,ret,delta,adv>>` in ONE O(n) pass.
  *
  * Replaces the `aggregate(…)` HigherOrderFunction fold, which is
  * CodegenFallback AND re-copies the accumulated output array per step
  * (`concat(acc.out, array(step))` — O(n²) per episode) with every
  * per-step expression interpreted.
  *
  * Bit-parity contract with the HOF fold (and the DuckDB oracle's
  * recursive CTE): all arithmetic in exact integer micros/ppm —
  * `ret = r + floorDiv(gammaPpm · prevRet, 1e6)`,
  * `delta = r + floorDiv(gammaPpm · prevV, 1e6) − v`,
  * `adv = delta + floorDiv(glPpm · prevAdv, 1e6)` with
  * `glPpm = gammaPpm·lambdaPpm / 1e6` (integer division, matching the
  * caller), floorDiv ≡ the caller's `(x − pmod(x, 1e6)) / 1e6`
  * (floor toward −∞). The same ±9.2e12-micro headroom raises fire at
  * the same boundaries with the same messages. */
case class GaeFold(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  private val stepType = StructType(Seq(
    StructField("st", LongType), StructField("r", LongType),
    StructField("v", LongType)))

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("st", LongType, nullable = true),
    StructField("r", LongType, nullable = true),
    StructField("v", LongType, nullable = true),
    StructField("ret", LongType, nullable = true),
    StructField("delta", LongType, nullable = true),
    StructField("adv", LongType, nullable = true))), containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(s: StructType, _), LongType, LongType)
          if second.foldable && third.foldable &&
            s.fields.length == 3 &&
            s.fields.map(_.name).sameElements(Array("st", "r", "v")) &&
            s.fields.forall(_.dataType == LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "gae_fold requires (array<struct<st:bigint,r:bigint,v:bigint>>, " +
          "bigint literal, bigint literal), got " +
          s"${first.dataType.catalogString} / " +
          s"${second.dataType.catalogString} / ${third.dataType.catalogString}")
    }

  @transient private lazy val gammaPpm = second.eval().asInstanceOf[Long]
  @transient private lazy val lambdaPpm = third.eval().asInstanceOf[Long]

  override def nullSafeEval(a: Any, g: Any, l: Any): Any =
    GaeFold.compute(a.asInstanceOf[ArrayData], gammaPpm, lambdaPpm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _, _) =>
      s"${ev.value} = graft.functions.GaeFold$$.MODULE$$" +
        s".compute($a, ${gammaPpm}L, ${lambdaPpm}L);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): GaeFold = copy(f, s, t)
}

object GaeFold {

  private val Headroom = 9200000000000L // the caller's 9.2e12 micros

  private def guard(x: Long, what: String): Long = {
    if (math.abs(x) > Headroom) throw new org.apache.spark.SparkException(
      s"trajectoryReturns: |$what| exceeds 9.2e12 micros ($x) — the " +
        "gamma-multiply overflows BIGINT past that; rescale " +
        "rewards/values upstream")
    x
  }

  /** One O(n) backward pass. Called from both the interpreted eval and
    * the generated code. */
  def compute(desc: ArrayData, gammaPpm: Long, lambdaPpm: Long): ArrayData = {
    val glPpm = gammaPpm * lambdaPpm / 1000000L
    val n = desc.numElements()
    val out = new Array[Any](n)
    var pr = 0L; var pv = 0L; var pa = 0L
    var i = 0
    while (i < n) {
      val row = desc.getStruct(i, 3)
      val st = row.getLong(0); val r = row.getLong(1); val v = row.getLong(2)
      val ret = guard(r + Math.floorDiv(gammaPpm * pr, 1000000L), "return")
      val delta = r + Math.floorDiv(gammaPpm * pv, 1000000L) - v
      val adv = guard(delta + Math.floorDiv(glPpm * pa, 1000000L),
        "advantage")
      out(i) = new GenericInternalRow(
        Array[Any](st, r, v, ret, delta, adv))
      pr = ret; pv = v; pa = adv
      i += 1
    }
    new GenericArrayData(out)
  }
}
