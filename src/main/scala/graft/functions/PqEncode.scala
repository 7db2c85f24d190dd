package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, FloatType, IntegerType, LongType}

/** Native kernel for PQ corpus encoding: takes a full embedding vector
  * and returns its m codebook assignments (one centroid id per subspace)
  * in ONE map-only pass.
  *
  * This collapses the relational formulation — posexplode into (vec, sub,
  * subvector) rows, broadcast-join against the m·k-row codebook, score
  * every (slice, centroid) pair as a ROW, hash-argmax back down — into
  * per-row arithmetic: the relational path materializes n·m·k scored
  * rows (8.2M for 2 000 vectors at the production m=16, k=256 geometry)
  * through a join + aggregate, where the actual work is a tight
  * O(m·k·subDim) = O(dim·k) loop per vector. At 100 TB the encode pass is
  * the one full corpus read PQ performs; this kernel makes it shuffle-free
  * (the relational twin shuffles (vec, sub, best) tuples out of its
  * argmax aggregate).
  *
  * Bit-parity contract with the relational [[graft.operators.Pq.encode]]
  * (and the DuckDB oracles, which replay the relational arithmetic):
  *  - dot products accumulate sequentially in double over float inputs,
  *    exactly like [[FloatVecDot]] (same loop, same widening);
  *  - cosine score = round(dot/(|sv|·|cv|), 6) with the zero-norm guard
  *    scoring −2.0 (Pq.subScore); L2 score = round(2·dot − |cv|², 6)
  *    (Pq.subScoreL2); round = Spark's Round on DoubleType, i.e.
  *    BigDecimal.valueOf(x).setScale(s, HALF_UP);
  *  - argmax via the same packed-long ord = round(score·1e6)·2³² −
  *    centroid_id, so ties break to the lowest centroid id;
  *  - a vector shorter than (s+1)·subDim dots over the prefix only,
  *    mirroring slice() + FloatVecDot's min-length semantics.
  *
  * Children: (vec, ids, cvs, m, k, subDim, cosine) — all but `vec` are
  * foldable literals, so the codebook (ids + flattened centroid floats,
  * bounded by the caller) rides the plan exactly like the inlined sign-LSH
  * planes in [[graft.operators.Similarity.lshBuckets]]; per-entry norms
  * precompute once per task — not per row, and never per (row, centroid)
  * as the relational join pays.
  */
case class PqEncode(children: Seq[Expression]) extends Expression {

  private def vecExpr = children.head

  override def nullable: Boolean = vecExpr.nullable
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.length != 7)
      return TypeCheckResult.TypeCheckFailure(
        s"pq_encode takes (vec, ids, cvs, m, k, subDim, cosine), got ${children.length} args")
    val types = children.map(_.dataType)
    val shapeOk = (types.head, types(1), types(2), types(3), types(4), types(5), types(6)) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, _), ArrayType(FloatType, _),
          IntegerType, IntegerType, IntegerType, BooleanType) => true
      case _ => false
    }
    if (!shapeOk || children.drop(1).exists(!_.foldable))
      return TypeCheckResult.TypeCheckFailure(
        "pq_encode requires (array<float>, array<bigint> lit, array<float> lit, " +
          s"int lit, int lit, int lit, boolean lit), got ${types.map(_.catalogString).mkString(", ")}")
    // the shape check below evaluates the foldable literals — a NULL
    // literal (legal to type-check, e.g. CAST(NULL AS ARRAY<BIGINT>) from
    // a direct SQL call) must fail HERE as a clean type-check error, not
    // NPE inside the analyzer when ids/m/k/subDim dereference it
    if (children.drop(1).exists(_.eval() == null))
      return TypeCheckResult.TypeCheckFailure(
        "pq_encode codebook and geometry literals must be non-null")
    // ...and the same for null ELEMENTS inside the two array literals
    // (array(CAST(NULL AS BIGINT)) passes the whole-value check above
    // but would NPE in toLongArray below)
    val arrs = Seq(children(1), children(2))
      .map(_.eval().asInstanceOf[ArrayData])
    if (arrs.exists(a => (0 until a.numElements()).exists(a.isNullAt)))
      return TypeCheckResult.TypeCheckFailure(
        "pq_encode codebook arrays must not contain null elements")
    if (ids.length != m * k || cvs.length != m * k * subDim)
      TypeCheckResult.TypeCheckFailure(
        s"pq_encode codebook shape mismatch: ${ids.length} ids / " +
          s"${cvs.length} floats for m=$m k=$k subDim=$subDim")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val ids: Array[Long] =
    children(1).eval().asInstanceOf[ArrayData].toLongArray()
  @transient private lazy val cvs: Array[Float] =
    children(2).eval().asInstanceOf[ArrayData].toFloatArray()
  @transient private lazy val m: Int = children(3).eval().asInstanceOf[Int]
  @transient private lazy val k: Int = children(4).eval().asInstanceOf[Int]
  @transient private lazy val subDim: Int = children(5).eval().asInstanceOf[Int]
  @transient private lazy val cosine: Boolean = children(6).eval().asInstanceOf[Boolean]

  /** |cv| and |cv|² per codebook entry, accumulated with the FloatVecDot
    * loop so sqrt inputs are bit-identical to the relational path. */
  @transient private lazy val norms: (Array[Double], Array[Double]) = {
    val cn = new Array[Double](m * k)
    val cn2 = new Array[Double](m * k)
    var e = 0
    while (e < m * k) {
      var acc = 0.0
      var d = 0
      while (d < subDim) {
        val x = cvs(e * subDim + d).toDouble
        acc += x * x
        d += 1
      }
      cn2(e) = acc
      cn(e) = math.sqrt(acc)
      e += 1
    }
    (cn, cn2)
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def round0(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Per-task scratch for raw scores (instances are per-task — the plan
    * deserializes fresh copies into each task closure, like the lazily
    * computed norms). */
  @transient private lazy val rawBuf = new Array[Double](k)

  def compute(vecRaw: Any): ArrayData = {
    val vec = vecRaw.asInstanceOf[ArrayData]
    val (cn, cn2) = norms
    val vlen = vec.numElements()
    val codes = new Array[Long](m)
    var s = 0
    while (s < m) {
      // slice(vec, s·subDim+1, subDim) then min-length dot: the slice is
      // the [s·subDim, min((s+1)·subDim, vlen)) window of the vector
      val base = s * subDim
      val slen = math.max(0, math.min(subDim, vlen - base))
      var svn = 0.0
      if (cosine) {
        var acc = 0.0
        var d = 0
        while (d < slen) {
          val x = vec.getFloat(base + d).toDouble
          acc += x * x
          d += 1
        }
        svn = math.sqrt(acc)
      }
      // Pass 1: RAW scores only — no rounding. BigDecimal HALF_UP per
      // (slice, centroid) was the measured bottleneck (n·m·k allocations
      // dominate the pure-float dot loop ~10:1), and rounding is
      // MONOTONE: round6(x) < round6(y) whenever y − x > 1e-6, so only
      // entries within 1.5e-6 of the raw max (margin covers the 5e-7
      // rounding radius on each side plus the threshold subtraction's
      // own ulp) can reach the maximal ROUNDED score. Pass 2 rounds just
      // those (typically one) through the exact BigDecimal path and
      // applies the packed-long ord — bit-identical argmax, k× fewer
      // roundings.
      var rawMax = Double.NegativeInfinity
      var c = 0
      while (c < k) {
        val e = s * k + c
        var dot = 0.0
        var d = 0
        while (d < slen) {
          dot += vec.getFloat(base + d).toDouble * cvs(e * subDim + d).toDouble
          d += 1
        }
        val raw =
          if (cosine) {
            if (svn > 0 && cn(e) > 0) dot / (svn * cn(e)) else -2.0
          } else 2.0 * dot - cn2(e)
        rawBuf(c) = raw
        if (raw > rawMax) rawMax = raw
        c += 1
      }
      val floor = rawMax - 1.5e-6
      var bestOrd = Long.MinValue
      var best = 0L
      c = 0
      while (c < k) {
        if (rawBuf(c) >= floor) {
          val e = s * k + c
          val ord = round0(round6(rawBuf(c)) * 1e6).toLong * 4294967296L - ids(e)
          if (ord > bestOrd) { bestOrd = ord; best = ids(e) }
        }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  override def eval(input: InternalRow): Any = {
    val v = vecExpr.eval(input)
    if (v == null) null else compute(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    val v = vecExpr.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${v.code}
      boolean ${ev.isNull} = ${v.isNull};
      $javaType ${ev.value} = null;
      if (!${ev.isNull}) { ${ev.value} = $ref.compute(${v.value}); }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqEncode = copy(children = newChildren)
}
