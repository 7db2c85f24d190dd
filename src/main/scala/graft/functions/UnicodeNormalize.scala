package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for Unicode normalization — the canonicalization pass a
  * web-crawl corpus needs BEFORE any hash-keyed dedup: "é" arrives both
  * composed (U+00E9) and decomposed (e + U+0301), full-width digits and
  * ligatures abound, and every such pair defeats exact/shingle/span
  * dedup because the hashes differ while the text is the same.
  *
  * `form` is one of NFC/NFD/NFKC/NFKD (parsed ONCE at construction).
  * NFC/NFD are canonical (lossless round-trip); NFKC/NFKD additionally
  * fold compatibility forms (ﬁ → fi, ４ → 4) — the usual choice for
  * dedup keys, at the cost of not being reversible. Runs inside
  * whole-stage codegen; the dominant all-ASCII row short-circuits on the
  * raw UTF-8 bytes (numBytes == numChars ⇒ pure ASCII ⇒ normalized in
  * every form) before any String allocation. Spark itself has no
  * normalization function; DuckDB exposes `nfc_normalize`, which the
  * q_x18 oracle uses to cross-check the NFC form on
  * engine-independently constructed non-ASCII input.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  // parsed once per expression instance (lazy: re-derived after
  // task-side deserialization, still once per task not per row)
  @transient private lazy val normForm = UnicodeNormalize.parse(form)
  UnicodeNormalize.parse(form) // fail fast on an invalid form name

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unicode_normalize requires string, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    UnicodeNormalize.compute(v.asInstanceOf[UTF8String], normForm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("form", normForm, "java.text.Normalizer.Form")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.UnicodeNormalize$$.MODULE$$.compute($s, $f);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {

  private[functions] def parse(form: String): Normalizer.Form = form match {
    case "NFC" => Normalizer.Form.NFC
    case "NFD" => Normalizer.Form.NFD
    case "NFKC" => Normalizer.Form.NFKC
    case "NFKD" => Normalizer.Form.NFKD
    case other => throw new IllegalArgumentException(
      s"unicode_normalize form must be NFC|NFD|NFKC|NFKD, got '$other'")
  }

  def compute(s: UTF8String, f: Normalizer.Form): UTF8String = {
    // pure-ASCII fast path on the raw bytes: no decode, no allocation
    if (s.numBytes == s.numChars) return s
    val str = s.toString
    if (Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(Normalizer.normalize(str, f))
  }

  /** The SQL builder behind `unicode_normalize(str, form)` in
    * [[Kernels]]: the form argument must be a string literal. */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "unicode_normalize(str, form)")
    val form = exprs(1) match {
      case Literal(v: UTF8String, StringType) => v.toString
      case other => throw new IllegalArgumentException(
        s"unicode_normalize form must be a string literal, got $other")
    }
    UnicodeNormalize(exprs.head, form)
  }
}
