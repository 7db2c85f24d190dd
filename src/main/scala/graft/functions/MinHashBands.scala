package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for MinHash-LSH banding: takes a document's shingle
  * array and returns its band hashes — `numBands = numHashes/rowsPerBand`
  * hex strings — in ONE pass, entirely inside a projection.
  *
  * This collapses the relational formulation (explode shingles → k
  * `min(md5(i|sh))` aggregations → band md5s) into map-only work: the
  * per-document signature needs NO explode, NO distinct, NO groupBy —
  * zero shuffles before the band equi-join. At corpus scale that removes
  * the widest shuffle in the dedup pipeline (the exploded shingle
  * relation is ~tokens× the corpus size).
  *
  * Returning band hashes rather than the raw signature is deliberate:
  * a signature array consumed by several `element_at` band expressions
  * would be inlined by CollapseProject and recomputed once per band;
  * a single array consumed by one `posexplode` is evaluated once.
  *
  * Bit-parity contract with the relational path (and the DuckDB oracle):
  * hash family h_i(s) = md5("i|" + s) compared as lowercase hex —
  * digest bytes compare unsigned-lexicographically, which is exactly the
  * hex-string order — and band hash = md5(minHex_{b·r} || "|" || … ||
  * minHex_{b·r+r-1}). Min over the (possibly duplicated) shingle multiset
  * equals min over the set, so no dedup is needed. An empty shingle array
  * yields an empty band array (the doc simply generates no candidates —
  * the same outcome as the relational path, where it has no rows to
  * aggregate).
  */
case class MinHashBands(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        (second.eval(), third.eval()) match {
          case (k: Int, r: Int) if k > 0 && r > 0 && k % r == 0 =>
            TypeCheckResult.TypeCheckSuccess
          case (k, r) => TypeCheckResult.TypeCheckFailure(
            s"rowsPerBand=$r must divide numHashes=$k (both positive, " +
              "non-null) — a partial trailing band would silently weaken recall")
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        "minhash_bands requires (array<string>, int literal, int literal), got " +
          s"${first.dataType.catalogString} / ${second.dataType.catalogString} / " +
          s"${third.dataType.catalogString}")
    }

  @transient private lazy val numHashes = second.eval().asInstanceOf[Int]
  @transient private lazy val rowsPerBand = third.eval().asInstanceOf[Int]

  override def nullSafeEval(a: Any, k: Any, r: Any): Any =
    MinHashBands.compute(a.asInstanceOf[ArrayData], numHashes, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _, _) =>
      s"${ev.value} = graft.functions.MinHashBands$$.MODULE$$" +
        s".compute($a, $numHashes, $rowsPerBand);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MinHashBands =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MinHashBands {

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  // "i|" prefixes are shared by every row of a task — cache per family size
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def prefixes(numHashes: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(numHashes, k =>
      Array.tabulate(k)(i => s"$i|".getBytes(StandardCharsets.UTF_8)))

  private val HexChars = "0123456789abcdef".toCharArray
  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = HexChars(b >>> 4)
      out(i * 2 + 1) = HexChars(b & 0xf)
      i += 1
    }
    new String(out)
  }

  // unsigned lexicographic digest order == lowercase-hex string order
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    false
  }

  /** One pass over the shingle array → band hash array. Called from both
    * the interpreted eval and the generated code. */
  def compute(shingles: ArrayData, numHashes: Int, rowsPerBand: Int): ArrayData = {
    val n = shingles.numElements()
    val numBands = numHashes / rowsPerBand
    if (n == 0) return new GenericArrayData(new Array[AnyRef](0))
    val md = digest.get()
    val pfx = prefixes(numHashes)
    val mins = new Array[Array[Byte]](numHashes)
    var i = 0
    var seen = 0
    while (i < n) {
      // null elements are skipped, matching the relational path (md5(null)
      // is null and min() ignores nulls)
      if (!shingles.isNullAt(i)) {
        val sBytes = shingles.getUTF8String(i).getBytes
        seen += 1
        var h = 0
        while (h < numHashes) {
          md.reset()
          md.update(pfx(h))
          md.update(sBytes)
          val d = md.digest()
          if (mins(h) == null || less(d, mins(h))) mins(h) = d
          h += 1
        }
      }
      i += 1
    }
    if (seen == 0) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](numBands)
    var b = 0
    while (b < numBands) {
      val sb = new java.lang.StringBuilder(numHashes * 33)
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append('|')
        sb.append(hex(mins(b * rowsPerBand + r)))
        r += 1
      }
      md.reset()
      val bh = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
      out(b) = UTF8String.fromString(hex(bh))
      b += 1
    }
    new GenericArrayData(out)
  }
}
