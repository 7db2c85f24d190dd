package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the hashed char-n-gram TF feature space:
  * `char_gram_tf(text, dims, nMin, nMax)` returns the document's
  * `bucket → tf` map over all n-gram lengths in [nMin, nMax] in ONE
  * pass inside a projection — the [[MinHashBands]] move applied to the
  * fastText-LID features.
  *
  * Collapses the relational formulation (one explode branch per gram
  * length — ≤ len generated rows per length per doc, an md5 each —
  * → one (doc, bucket)-keyed counting aggregation) into map-only work:
  * NO explode, NO shuffle. The (doc_id, b, tf) relation the LID chain
  * consumes is then one `explode(map)` away, ≤ dims rows per doc.
  *
  * Bit-parity contract with the relational path (and the DuckDB
  * oracle): grams are CODE-POINT substrings of the input (callers
  * lower-case first, as before), and the bucket is
  * [[graft.operators.Sampling.bucketOfKey]]'s
  * `conv(substr(md5(gram), 1, 8), 16, 10) % dims` — i.e. the digest's
  * first 4 bytes as an unsigned 32-bit integer, mod dims. Exact
  * integer counts; map entry order is irrelevant (consumers aggregate
  * or explode). Null text returns null (callers filter first). */
case class CharGramTf(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType =
    MapType(LongType, LongType, valueContainsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (StringType, IntegerType, IntegerType, IntegerType)
          if second.foldable && third.foldable && fourth.foldable =>
        (second.eval(), third.eval(), fourth.eval()) match {
          case (d: Int, lo: Int, hi: Int)
              if d >= 2 && lo >= 1 && hi >= lo && hi <= 8 =>
            TypeCheckResult.TypeCheckSuccess
          case (d, lo, hi) => TypeCheckResult.TypeCheckFailure(
            s"char_gram_tf needs dims >= 2 and 1 <= nMin <= nMax <= 8, " +
              s"got dims=$d, nMin=$lo, nMax=$hi")
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        "char_gram_tf requires (string, int literal, int literal, " +
          s"int literal), got ${first.dataType.catalogString} / " +
          s"${second.dataType.catalogString} / " +
          s"${third.dataType.catalogString} / ${fourth.dataType.catalogString}")
    }

  @transient private lazy val dims = second.eval().asInstanceOf[Int]
  @transient private lazy val nMin = third.eval().asInstanceOf[Int]
  @transient private lazy val nMax = fourth.eval().asInstanceOf[Int]

  override def nullSafeEval(t: Any, d: Any, lo: Any, hi: Any): Any =
    CharGramTf.compute(t.asInstanceOf[UTF8String], dims, nMin, nMax)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _, _, _) =>
      s"${ev.value} = graft.functions.CharGramTf$$.MODULE$$" +
        s".compute($t, $dims, $nMin, $nMax);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): CharGramTf = copy(f, s, t, q)
}

object CharGramTf {

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** `conv(substr(md5_hex, 1, 8), 16, 10) % dims` — the first 4 digest
    * bytes as an unsigned 32-bit integer, mod dims. Shared by every
    * hashed-TF kernel so the bucket derivation has exactly one JVM
    * definition mirroring [[graft.operators.Sampling.bucketOfKey]]. */
  private[functions] def md5Bucket(md: MessageDigest,
      bytes: Array[Byte], off: Int, len: Int, dims: Int): Long = {
    md.reset()
    md.update(bytes, off, len)
    val d = md.digest()
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    u % dims
  }

  /** Accumulate counts keyed by bucket into a map value. */
  private[functions] def toMapData(
      counts: java.util.HashMap[Long, Array[Long]]): MapData = {
    val n = counts.size()
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    val it = counts.entrySet().iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      keys(i) = e.getKey
      vals(i) = e.getValue()(0)
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  /** One pass over the text → bucket→tf map. Called from both the
    * interpreted eval and the generated code. */
  def compute(text: UTF8String, dims: Int, nMin: Int, nMax: Int): MapData = {
    val bytes = text.getBytes
    val nChars = text.numChars()
    // code-point byte offsets, so gram (i, n) = bytes [off(i), off(i+n))
    val off = new Array[Int](nChars + 1)
    var ci = 0
    var b = 0
    while (ci < nChars) {
      off(ci) = b
      val f = bytes(b) & 0xff
      b += (if (f < 0x80) 1 else if (f < 0xe0) 2 else if (f < 0xf0) 3 else 4)
      ci += 1
    }
    off(nChars) = bytes.length
    val md = digest.get()
    val counts = new java.util.HashMap[Long, Array[Long]](math.min(dims, 64))
    var n = nMin
    while (n <= nMax) {
      var i = 0
      while (i <= nChars - n) {
        val bk = md5Bucket(md, bytes, off(i), off(i + n) - off(i), dims)
        val c = counts.get(bk)
        if (c == null) counts.put(bk, Array(1L)) else c(0) += 1L
        i += 1
      }
      n += 1
    }
    toMapData(counts)
  }
}
