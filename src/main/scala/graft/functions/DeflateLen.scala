package graft.functions

import java.util.zip.Deflater

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the compression-ratio quality signal: DEFLATE the
  * UTF-8 bytes of a string at a fixed level and return the compressed
  * length. `deflate_len(text) / length(text)` is the compressibility
  * ratio public data-curation pipelines (the DCLM / RedPajama filter
  * families) use to catch machine-generated and boilerplate-heavy
  * documents: highly repetitive text compresses far below natural prose.
  *
  * Runs inside whole-stage codegen as one JNI-free pass per row (zlib via
  * `java.util.zip.Deflater`, level 6, nowrap). Deterministic for a given
  * JVM/zlib pairing — fine for filtering and for the ScalaTest contract —
  * but NOT portable across engines, so its query is a rows-only check
  * like the other engine-specific sketches (no DuckDB equivalent exists).
  */
case class DeflateLen(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deflate_len requires string, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    DeflateLen.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.DeflateLen$$.MODULE$$.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)
}

object DeflateLen {

  // Deflater holds native state — one per thread, reset per row. nowrap
  // drops the 6-byte zlib header/checksum so short strings aren't skewed.
  private val deflater: ThreadLocal[Deflater] =
    ThreadLocal.withInitial(() => new Deflater(6, true))

  def compute(s: UTF8String): Int = {
    val d = deflater.get()
    d.reset()
    d.setInput(s.getBytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }
}
