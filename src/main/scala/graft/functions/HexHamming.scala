package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Hamming distance (in bits) between two
  * equal-length hex strings — the comparison kernel for 64-bit SimHash
  * signatures stored as 16 hex chars. One pass over the characters,
  * nibble-xor + popcount, inside whole-stage codegen; the composed
  * equivalent (4 × conv/substr/xor/bit_count column expressions) walks
  * the strings four times through much wider generated code.
  *
  * Null if either side is null, if lengths differ, or if a non-hex
  * character appears (strict contract: garbage in, null out — so a bad
  * signature can never silently count as "distance 0").
  */
case class HexHamming(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"hex_hamming requires two string arguments, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val d = HexHamming.compute(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
    if (d < 0) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d = ctx.freshName("d")
      s"""
         |int $d = graft.functions.HexHamming.compute($a, $b);
         |if ($d < 0) { ${ev.isNull} = true; } else { ${ev.value} = $d; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HexHamming =
    copy(left = newLeft, right = newRight)
}

object HexHamming {

  /** Bit distance between equal-length hex strings; -1 on length mismatch
    * or a non-hex character (mapped to SQL null by the expression). Static
    * + branch-light so JIT inlines it into the generated stage. */
  def compute(a: UTF8String, b: UTF8String): Int = {
    val na = a.numBytes()
    if (na != b.numBytes()) return -1
    var acc = 0
    var i = 0
    while (i < na) {
      val da = Character.digit(a.getByte(i).toChar, 16)
      val db = Character.digit(b.getByte(i).toChar, 16)
      if (da < 0 || db < 0) return -1
      acc += Integer.bitCount(da ^ db)
      i += 1
    }
    acc
  }
}
