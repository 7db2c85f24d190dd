package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the hashed TOKEN-TF feature space:
  * `token_bucket_tf(toks, dims)` returns one document's `bucket → tf`
  * map over its token array in ONE pass inside a projection — the
  * [[CharGramTf]] move at the token level, feeding
  * [[graft.operators.TextAnalysis.hashedTfVectors]] /
  * `linearQualityScore` / `trainLinearQuality` without the
  * explode(tokens) → md5 → (doc, bucket)-keyed counting aggregation
  * round trip (NO explode, NO shuffle; consumers explode the ≤ dims
  * map entries or reassemble the dense vector directly).
  *
  * Bit-parity contract with the relational path (and the DuckDB
  * oracle): bucket = [[graft.operators.Sampling.bucketOfKey]]'s
  * `conv(substr(md5(token), 1, 8), 16, 10) % dims` over the token's
  * UTF-8 bytes; exact integer counts; entry order irrelevant. Null
  * array elements are skipped (md5(null) is null and the old
  * aggregation never saw a row); a null array returns null. */
case class TokenBucketTf(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    MapType(LongType, LongType, valueContainsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if right.foldable =>
        right.eval() match {
          case d: Int if d >= 2 => TypeCheckResult.TypeCheckSuccess
          case d => TypeCheckResult.TypeCheckFailure(
            s"token_bucket_tf needs dims >= 2, got $d")
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        "token_bucket_tf requires (array<string>, int literal), got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  @transient private lazy val dims = right.eval().asInstanceOf[Int]

  override def nullSafeEval(a: Any, d: Any): Any =
    TokenBucketTf.compute(a.asInstanceOf[ArrayData], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.functions.TokenBucketTf$$.MODULE$$" +
        s".compute($a, $dims);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenBucketTf =
    copy(left = newLeft, right = newRight)
}

object TokenBucketTf {

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** One pass over the token array → bucket→tf map. Called from both
    * the interpreted eval and the generated code. */
  def compute(toks: ArrayData, dims: Int): MapData = {
    val n = toks.numElements()
    val md = digest.get()
    val counts = new java.util.HashMap[Long, Array[Long]](math.min(dims, 64))
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val bytes = toks.getUTF8String(i).getBytes
        val bk = CharGramTf.md5Bucket(md, bytes, 0, bytes.length, dims)
        val c = counts.get(bk)
        if (c == null) counts.put(bk, Array(1L)) else c(0) += 1L
      }
      i += 1
    }
    CharGramTf.toMapData(counts)
  }
}

/** Dense sibling of [[TokenBucketTf]]: `token_tf_vec(toks, dims)`
  * returns the document's FULL dims-length hashed-TF vector as
  * `array<float>` in one pass — what
  * [[graft.operators.TextAnalysis.hashedTfVectors]] reassembled from
  * the sparse relation via collect_list + map + a dims-length
  * transform. Emitting the dense array directly keeps the kernel the
  * single consumer of the counts (no map column for CollapseProject to
  * inline into a per-element lambda) and removes both aggregations.
  * Same bucket derivation and float cast as the relational path. */
case class TokenTfVec(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if right.foldable =>
        right.eval() match {
          case d: Int if d >= 2 && d <= 65536 =>
            TypeCheckResult.TypeCheckSuccess
          case d => TypeCheckResult.TypeCheckFailure(
            s"token_tf_vec needs dims in [2, 65536], got $d")
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        "token_tf_vec requires (array<string>, int literal), got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  @transient private lazy val dims = right.eval().asInstanceOf[Int]

  override def nullSafeEval(a: Any, d: Any): Any =
    TokenTfVec.compute(a.asInstanceOf[ArrayData], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = graft.functions.TokenTfVec$$.MODULE$$" +
        s".compute($a, $dims);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenTfVec =
    copy(left = newLeft, right = newRight)
}

object TokenTfVec {

  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** One pass over the token array → dense dims-length float vector.
    * Called from both the interpreted eval and the generated code. */
  def compute(toks: ArrayData, dims: Int): ArrayData = {
    val n = toks.numElements()
    val md = digest.get()
    val vec = new Array[Float](dims)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val bytes = toks.getUTF8String(i).getBytes
        val bk = CharGramTf.md5Bucket(md, bytes, 0, bytes.length, dims)
        vec(bk.toInt) += 1f
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(vec)
  }
}
