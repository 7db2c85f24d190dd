package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{DataType, LongType, MapType}

/** Native kernel for the exact integer margin `Σ_b tf_b · w_b` between
  * a document's bucket→tf map and a (broadcast) bucket→weight map:
  * `map_margin(tf, w)` — the codegen'd replacement for the equivalent
  * `aggregate(map_entries(tf), 0, …)` HigherOrderFunction fold, which
  * is CodegenFallback and breaks whole-stage codegen for the enclosing
  * projection (measured +0.5–0.9 s on the LID chain at sf0.1).
  *
  * Buckets absent from the weight map contribute 0 (the old relational
  * left join's coalesce). Long arithmetic, order-independent — exact.
  * Null on either side returns null (round-1 callers pass an empty,
  * never null, weight map).
  *
  * The weight side is typically ONE broadcast map shared by every row
  * of a task, so its hash index is memoized per thread keyed on object
  * identity — a different map instance just rebuilds (correct for any
  * input, fast for the broadcast shape). */
case class MapMargin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (MapType(LongType, LongType, _), MapType(LongType, LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "map_margin requires two map<bigint,bigint> arguments, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    MapMargin.compute(l.asInstanceOf[MapData], r.asInstanceOf[MapData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.MapMargin$$.MODULE$$.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MapMargin =
    copy(left = newLeft, right = newRight)
}

object MapMargin {

  // identity-memoized hash index of the (broadcast, task-constant)
  // weight map — rebuilt automatically whenever a different map object
  // arrives, so correctness never depends on the memo hitting
  private val wIndex =
    new ThreadLocal[(MapData, java.util.HashMap[java.lang.Long, java.lang.Long])]

  private def indexOf(
      w: MapData): java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val cached = wIndex.get()
    if (cached != null && (cached._1 eq w)) return cached._2
    val n = w.numElements()
    val keys = w.keyArray()
    val vals = w.valueArray()
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long](
      math.max(16, n * 2))
    var i = 0
    while (i < n) {
      m.put(java.lang.Long.valueOf(keys.getLong(i)),
        java.lang.Long.valueOf(vals.getLong(i)))
      i += 1
    }
    wIndex.set((w, m))
    m
  }

  /** Σ over tf entries of tf · w(bucket), missing buckets = 0. Called
    * from both the interpreted eval and the generated code. */
  def compute(tf: MapData, w: MapData): Long = {
    val idx = indexOf(w)
    val n = tf.numElements()
    val keys = tf.keyArray()
    val vals = tf.valueArray()
    var s = 0L
    var i = 0
    while (i < n) {
      val wv = idx.get(java.lang.Long.valueOf(keys.getLong(i)))
      if (wv != null) s += vals.getLong(i) * wv.longValue()
      i += 1
    }
    s
  }
}
