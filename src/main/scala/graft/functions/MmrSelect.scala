package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native kernel for greedy MMR selection over ONE query's bounded
  * candidate set: `mmr_select(cands, sims, k, lambdaTenths)` returns
  * the selected `array<struct<doc_id, mmr_m, rnk>>` in one pass —
  * replacing [[graft.operators.Similarity.mmrRerank]]'s k−1 driver
  * rounds of anti-join + rescoring join + argmax + localCheckpoint
  * (the greedy recursion is sequential BY DEFINITION, and the
  * candidate set is already bounded by the upstream run's top-k, so
  * per-query it is a few hundred integer ops — driver-round Spark jobs
  * were pure overhead).
  *
  * Bit-parity contract with the relational loop (and the DuckDB
  * oracle's unrolled rounds): round 1 picks max(λ·rel_m) over ALL
  * candidates, ties to the LOWEST id (the max(struct(m, −id))
  * tiebreak); each later round scores only the not-yet-selected
  * candidates that have at least one sim row toward the selected set
  * (the old INNER joins — a candidate with no embedding pair never
  * becomes selectable), with mmr = λ·rel_m − (10−λ)·max(sim_m to
  * selected); an empty scorable set ends the query's sequence (ranks
  * stay contiguous). Duplicate (a, b) sim rows fold by max, like the
  * old aggregation. All arithmetic exact integer micros. */
case class MmrSelect(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("mmr_m", LongType, nullable = true),
    StructField("rnk", IntegerType, nullable = true))), containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def isCands(t: DataType) = t match {
      case ArrayType(s: StructType, _) => s.fields.length == 2 &&
        s.fields.forall(_.dataType == LongType)
      case _ => false
    }
    def isSims(t: DataType) = t match {
      case ArrayType(s: StructType, _) => s.fields.length == 3 &&
        s.fields.forall(_.dataType == LongType)
      case _ => false
    }
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (c, s, IntegerType, IntegerType)
          if isCands(c) && isSims(s) && third.foldable && fourth.foldable =>
        (third.eval(), fourth.eval()) match {
          case (k: Int, lam: Int) if k >= 1 && lam >= 0 && lam <= 10 =>
            TypeCheckResult.TypeCheckSuccess
          case (k, lam) => TypeCheckResult.TypeCheckFailure(
            s"mmr_select needs k >= 1 and lambdaTenths in [0, 10], " +
              s"got k=$k, lambdaTenths=$lam")
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        "mmr_select requires (array<struct<id,rel>>, array<struct<a,b,s>>" +
          ", int literal, int literal) with bigint struct fields, got " +
          s"${first.dataType.catalogString} / ${second.dataType.catalogString}" +
          s" / ${third.dataType.catalogString} / ${fourth.dataType.catalogString}")
    }
  }

  @transient private lazy val k = third.eval().asInstanceOf[Int]
  @transient private lazy val lam = fourth.eval().asInstanceOf[Int]

  override def nullSafeEval(c: Any, s: Any, kk: Any, ll: Any): Any =
    MmrSelect.compute(c.asInstanceOf[ArrayData], s.asInstanceOf[ArrayData],
      k, lam)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, s, _, _) =>
      s"${ev.value} = graft.functions.MmrSelect$$.MODULE$$" +
        s".compute($c, $s, $k, $lam);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): MmrSelect = copy(f, s, t, q)
}

object MmrSelect {

  /** Greedy selection for one query. Called from both the interpreted
    * eval and the generated code. */
  def compute(cands: ArrayData, sims: ArrayData, k: Int,
      lambdaTenths: Int): ArrayData = {
    val lam = lambdaTenths.toLong
    val nc = cands.numElements()
    val ids = new Array[Long](nc)
    val rels = new Array[Long](nc)
    var i = 0
    while (i < nc) {
      val row = cands.getStruct(i, 2)
      ids(i) = row.getLong(0); rels(i) = row.getLong(1)
      i += 1
    }
    // a -> (b -> max sim)
    val simIdx = new java.util.HashMap[java.lang.Long,
      java.util.HashMap[java.lang.Long, java.lang.Long]]()
    val ns = sims.numElements()
    i = 0
    while (i < ns) {
      val row = sims.getStruct(i, 3)
      val a = java.lang.Long.valueOf(row.getLong(0))
      val b = java.lang.Long.valueOf(row.getLong(1))
      val s = row.getLong(2)
      var inner = simIdx.get(a)
      if (inner == null) { inner = new java.util.HashMap(); simIdx.put(a, inner) }
      val prev = inner.get(b)
      if (prev == null || prev.longValue() < s)
        inner.put(b, java.lang.Long.valueOf(s))
      i += 1
    }
    val selected = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](k)
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      var bestId = 0L; var bestM = 0L; var found = false
      var j = 0
      while (j < nc) {
        val id = ids(j)
        if (!selected.contains(java.lang.Long.valueOf(id))) {
          var m = 0L
          var scorable = false
          if (r == 1) { m = lam * rels(j); scorable = true }
          else {
            val inner = simIdx.get(java.lang.Long.valueOf(id))
            if (inner != null) {
              var ms = Long.MinValue
              val it = selected.iterator()
              while (it.hasNext) {
                val sv = inner.get(it.next())
                if (sv != null && sv.longValue() > ms) ms = sv.longValue()
              }
              if (ms != Long.MinValue) {
                m = lam * rels(j) - (10L - lam) * ms
                scorable = true
              }
            }
          }
          // argmax(struct(m, -id)): max m, ties to the LOWEST id
          if (scorable && (!found || m > bestM ||
              (m == bestM && id < bestId))) {
            bestId = id; bestM = m; found = true
          }
        }
        j += 1
      }
      if (!found) exhausted = true
      else {
        selected.add(java.lang.Long.valueOf(bestId))
        out += new GenericInternalRow(Array[Any](bestId, bestM, r))
        r += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}
