package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for chrF counting: `chrf_matches(ref, hyp)` takes the
  * two whitespace-STRIPPED strings of one example and returns the six
  * clipped character-n-gram match counts `[mm1 … mm6]` in ONE pass,
  * entirely inside a projection.
  *
  * This collapses the relational formulation (12 explode branches —
  * 6 orders × 2 sides, ≤ 6·len generated rows per side per example —
  * → one (id, order, gram)-keyed counting aggregation → one
  * (id, order) clip-sum) into map-only work: NO explode, NO shuffle.
  * At corpus scale that removes the widest exchange in the eval path
  * (the exploded char-gram relation is ~12·chars× the example count);
  * the [[MinHashBands]] move applied to the generation metrics.
  *
  * Bit-parity contract with the relational path (and the DuckDB
  * oracle): grams are CODE-POINT substrings (`substr(s, i, n)`
  * semantics in both engines), and the clipped match count per order
  * is Σ_g min(count_hyp(g), count_ref(g)) — exact integers, order-
  * independent. Orders longer than a side contribute zero matches
  * (that side has no grams), exactly like the relational path's empty
  * explode branch. Null on either side returns null (the caller
  * filters nulls first, as before). */
case class ChrfMatches(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"chrf_matches requires two string arguments, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    ChrfMatches.compute(
      l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.ChrfMatches$$.MODULE$$.compute($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ChrfMatches =
    copy(left = newLeft, right = newRight)
}

object ChrfMatches {

  val Orders = 6

  /** Byte offsets of each code point (plus the end offset) in UTF-8
    * `bytes` — gram (i, n) in `substr` terms is bytes
    * [off(i), off(i+n)), so slicing never splits a code point. */
  private def cpOffsets(s: UTF8String): Array[Int] = {
    val nChars = s.numChars()
    val bytes = s.getBytes
    val off = new Array[Int](nChars + 1)
    var i = 0
    var b = 0
    while (i < nChars) {
      off(i) = b
      val first = bytes(b) & 0xff
      b += (if (first < 0x80) 1
            else if (first < 0xe0) 2
            else if (first < 0xf0) 3
            else 4)
      i += 1
    }
    off(nChars) = bytes.length
    off
  }

  /** One pass over both sides → the 6 clipped match counts. Called from
    * both the interpreted eval and the generated code. */
  def compute(ref: UTF8String, hyp: UTF8String): ArrayData = {
    val rBytes = ref.getBytes
    val hBytes = hyp.getBytes
    val rOff = cpOffsets(ref)
    val hOff = cpOffsets(hyp)
    val rLen = rOff.length - 1
    val hLen = hOff.length - 1
    val out = new Array[Long](Orders)
    var n = 1
    while (n <= Orders) {
      if (rLen >= n && hLen >= n) {
        // hyp gram counts, then probe with ref grams decrementing:
        // Σ_g min(ch, cr) without materializing the ref side's map
        val counts = new java.util.HashMap[UTF8String, Array[Int]](
          math.max(16, hLen - n + 1))
        var i = 0
        while (i <= hLen - n) {
          val g = UTF8String.fromBytes(hBytes, hOff(i), hOff(i + n) - hOff(i))
          val c = counts.get(g)
          if (c == null) counts.put(g, Array(1)) else c(0) += 1
          i += 1
        }
        var m = 0L
        i = 0
        while (i <= rLen - n) {
          val g = UTF8String.fromBytes(rBytes, rOff(i), rOff(i + n) - rOff(i))
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
