package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, BoundReference, Descending, Expression,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, CodeGenerator, EmptyBlock, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** Native as-of join: for each left row, attach the latest right row with
  * the same key whose time is <= the left row's time (left-outer: the
  * right side is null when no prior row exists).
  *
  * This is the whole-operator extension tier — custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan` — for a semantics Spark's relational
  * operators can't express as one operator (the composed alternative,
  * union + carry-forward window in `q_j5_asof_join`, only works when both
  * sides share one schema; a window over a non-equi join explodes
  * candidates first).
  *
  * Scale shape: `requiredChildDistribution` hash-clusters both sides by
  * key and `requiredChildOrdering` sorts by (key, time), so Catalyst's
  * EnsureRequirements inserts exactly one co-partitioning exchange + sort
  * per side — the sort-merge-join shape — and the merge itself is a
  * single forward pass per partition holding ONE buffered right row.
  * O(1) state, no per-row probe, no candidate explosion; on 1000
  * executors each partition merges independently.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    tolerance: Option[Long] = None,
    forward: Boolean = false) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tol, fwd) =>
      AsOfJoinExec(lk, rk, lt, rt, tol, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    tolerance: Option[Long],
    forward: Boolean,
    left: SparkPlan, right: SparkPlan)
  extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  // hash-cluster both children by key: EnsureRequirements co-partitions
  // them (re-using an existing partitioning when one side already hashes
  // by the key) and inserts the per-partition sorts below
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  // forward mode scans time DESCENDING: as the left frontier moves to
  // smaller times, the eligible (rt >= lt) right set only grows — the
  // same monotone two-pointer merge, mirrored
  private def timeDir = if (forward) Descending else Ascending

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, timeDir)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, timeDir)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, timeDir))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    val numRightCols = right.output.size
    val leftOut = left.output
    val rightOut = right.output
    val lKeyExpr = leftKey
    val rKeyExpr = rightKey
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    val keyType = leftKey.dataType
    val timeType = leftTime.dataType
    val outputAttrs = output
    val tol = tolerance
    val fwd = forward
    // tolerance needs time DIFFERENCES, not just ordering — restrict it to
    // the long/int-backed time types (timestamp = micros, date = days)
    tol.foreach { _ =>
      require(timeIsLongBacked(timeType),
        s"as-of tolerance requires a long/int-backed time type, got $timeType")
    }

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // generated classes are not serializable: build orderings on the
      // executor (the codegen cache dedups the source per JVM)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(keyType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val timeAsLong: InternalRow => Long = timeType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => r => r.getInt(0).toLong
        case _ => r => r.getLong(0)
      }
      val lKeyProj = UnsafeProjection.create(Seq(lKeyExpr), leftOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeExpr), leftOut)
      val rKeyProj = UnsafeProjection.create(Seq(rKeyExpr), rightOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeExpr), rightOut)
      val resultProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      // null keys/times never match and (sorting nulls-first) never block
      // the merge pointer, so drop null-keyed right rows up front
      val rBuf = rIter.filter { r =>
        !rKeyProj(r).isNullAt(0) && !rTimeProj(r).isNullAt(0)
      }.buffered
      val nullRight = new GenericInternalRow(numRightCols)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // the single piece of merge state: last right row at or before the
        // current merge frontier, plus the key and time it belongs to
        private var lastKey: UnsafeRow = _
        private var lastRight: InternalRow = _
        private var lastTime: Long = Long.MinValue

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          if (lk.isNullAt(0)) { numOutputRows += 1; return resultProj(joined(l, nullRight)) }
          val lt = lTimeProj(l)
          if (lt.isNullAt(0)) { numOutputRows += 1; return resultProj(joined(l, nullRight)) }
          var scan = true
          while (scan && rBuf.hasNext) {
            val r = rBuf.head
            val c = keyOrd.compare(rKeyProj(r), lk)
            if (c < 0) {
              rBuf.next() // stale key: its carry-forward state is obsolete
            } else if (c == 0 && {
              val tc = timeOrd.compare(rTimeProj(r), lt)
              if (fwd) tc >= 0 else tc <= 0 // eligible side of the frontier
            }) {
              lastKey = rKeyProj(r).copy()
              lastRight = r.copy()
              if (tol.isDefined) lastTime = timeAsLong(rTimeProj(r))
              rBuf.next()
            } else {
              scan = false // right frontier is ahead of this left row
            }
          }
          val matched = lastRight != null && keyOrd.compare(lastKey, lk) == 0 &&
            tol.forall { t =>
              val gap = if (fwd) lastTime - timeAsLong(lt)
                else timeAsLong(lt) - lastTime
              gap <= t
            }
          numOutputRows += 1
          if (matched) numMatchedRows += 1
          resultProj(joined(l, if (matched) lastRight else nullRight))
        }
      }
    }
  }

  // ---- whole-stage codegen ------------------------------------------------
  // Same two-iterator shape as Spark's SortMergeJoinExec codegen: this node
  // does NOT call children's produce — it reads both sorted children as
  // iterators (inputs[0]/inputs[1]) and generates the single-forward-pass
  // merge loop inline in the stage, so the surrounding project/filter fuse
  // with the join instead of crossing an iterator boundary per row.

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // output rows reference the (reused) left iterator row — anything in the
  // stage that buffers rows must copy, exactly like sort-merge join
  override def needCopyResult: Boolean = true

  protected override def doProduce(ctx: CodegenContext): String = {
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "asofLeftInput",
      v => s"$v = inputs[0];", forceInline = true)
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "asofRightInput",
      v => s"$v = inputs[1];", forceInline = true)
    // the peeked-but-not-consumed right row, and the single piece of merge
    // state: a copy of the last eligible right row at the frontier. Both
    // are INPUT_ROWs below, so they must be plain fields: a compacted state
    // is an array slot, and an expression that splits its code into
    // functions (the struct of a composite key) cannot take a slot as a
    // parameter name.
    val rightRow = ctx.addMutableState("InternalRow", "asofRightRow",
      forceInline = true)
    val lastRight = ctx.addMutableState("InternalRow", "asofLastRight",
      forceInline = true)

    val leftRow = ctx.freshName("asofLeftRow")
    val matched = ctx.freshName("asofMatched")

    // left key/time evaluated on the current left row
    ctx.currentVars = null
    ctx.INPUT_ROW = leftRow
    val lkEv = BindReferences.bindReference(leftKey, left.output).genCode(ctx)
    val ltEv = BindReferences.bindReference(leftTime, left.output).genCode(ctx)
    // full left output columns (the join emits every left row)
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }

    // right key/time evaluated on the peeked row (block-scoped inside the
    // advance loop, re-evaluated each pass)
    ctx.INPUT_ROW = rightRow
    val rkEv = BindReferences.bindReference(rightKey, right.output).genCode(ctx)
    val rtEv = BindReferences.bindReference(rightTime, right.output).genCode(ctx)

    // stored-match key/time re-evaluated on the buffered copy (rows with
    // null key/time are never stored, so no null guards needed here)
    ctx.INPUT_ROW = lastRight
    val lastKEv = BindReferences.bindReference(rightKey, right.output).genCode(ctx)
    val lastTEv = BindReferences.bindReference(rightTime, right.output).genCode(ctx)

    val keyType = leftKey.dataType
    val timeType = leftTime.dataType
    tolerance.foreach { _ =>
      require(timeIsLongBacked(timeType),
        s"as-of tolerance requires a long/int-backed time type, got $timeType")
    }
    val timeCmpOp = if (forward) ">= 0" else "<= 0"
    val toleranceCheck = tolerance.map { t =>
      val gap =
        if (forward) s"((long)(${lastTEv.value})) - ((long)(${ltEv.value}))"
        else s"((long)(${ltEv.value})) - ((long)(${lastTEv.value}))"
      s"$matched = $matched && ($gap <= ${t}L);"
    }.getOrElse("")

    // right-side output columns: null unless this left row matched
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("asofIsNull")
      val value = ctx.freshName("asofValue")
      val jt = CodeGenerator.javaType(a.dataType)
      val dv = CodeGenerator.defaultValue(a.dataType)
      val getter = CodeGenerator.getValue(lastRight, a.dataType, i.toString)
      val colCode =
        code"""
           |boolean $isNull = true;
           |$jt $value = $dv;
           |if ($matched) {
           |  $isNull = $lastRight.isNullAt($i);
           |  if (!$isNull) { $value = $getter; }
           |}
         """.stripMargin
      ExprCode(colCode, JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, a.dataType))
    }

    val numOutput = metricTerm(ctx, "numOutputRows")
    val numMatched = metricTerm(ctx, "numMatchedRows")
    val c = ctx.freshName("asofCmp")

    s"""
       |while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  ${lkEv.code}
       |  ${ltEv.code}
       |  boolean $matched = false;
       |  if (!(${lkEv.isNull}) && !(${ltEv.isNull})) {
       |    // advance the right frontier for this (key, time)
       |    while (true) {
       |      if ($rightRow == null) {
       |        if (!$rightInput.hasNext()) break;
       |        $rightRow = (InternalRow) $rightInput.next();
       |      }
       |      ${rkEv.code}
       |      ${rtEv.code}
       |      if ((${rkEv.isNull}) || (${rtEv.isNull})) {
       |        $rightRow = null; continue;   // null keys/times never match
       |      }
       |      int $c = ${ctx.genComp(keyType, rkEv.value.toString, lkEv.value.toString)};
       |      if ($c < 0) { $rightRow = null; continue; }  // stale key
       |      if ($c == 0 &&
       |          ${ctx.genComp(timeType, rtEv.value.toString, ltEv.value.toString)} $timeCmpOp) {
       |        $lastRight = (InternalRow) $rightRow.copy();
       |        $rightRow = null; continue;   // eligible: carry it forward
       |      }
       |      break;                          // right frontier is ahead
       |    }
       |    if ($lastRight != null) {
       |      ${lastKEv.code}
       |      ${lastTEv.code}
       |      $matched =
       |        ${ctx.genComp(keyType, lastKEv.value.toString, lkEv.value.toString)} == 0;
       |      $toleranceCheck
       |    }
       |  }
       |  $numOutput.add(1);
       |  if ($matched) $numMatched.add(1);
       |  ${leftVars.map(_.code.toString).mkString("\n")}
       |  ${rightVars.map(_.code.toString).mkString("\n")}
       |  ${consume(ctx, leftVars.map(_.copy(code = EmptyBlock)) ++
                rightVars.map(_.copy(code = EmptyBlock)))}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  private def timeIsLongBacked(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  /** DataFrame-level entry point. Resolves the named columns against each
    * side, registers the planner strategy (idempotent), and wraps the
    * logical node. Column names may repeat across sides — output
    * attributes stay distinct by expression id.
    *
    * `tolerance` bounds the lookback (or lookahead): a right row only
    * matches when |leftTime - rightTime| <= tolerance on the matching
    * side, in the time column's own units (micros for timestamps, days
    * for dates). None = unbounded. `forward = true` flips the direction:
    * the match is the NEAREST right row at-or-after the left time
    * (pandas merge_asof direction='forward'). */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKeyCol: String, rightKeyCol: String,
      leftTimeCol: String, rightTimeCol: String,
      tolerance: Option[Long] = None,
      forward: Boolean = false): DataFrame =
    asofJoinMulti(left, right, Seq(leftKeyCol), Seq(rightKeyCol),
      leftTimeCol, rightTimeCol, tolerance, forward)

  /** Composite-key variant: match on several key columns at once (the
    * pandas `merge_asof(by=[...])` shape). The keys combine into ONE
    * struct expression, which Spark hash-partitions, sorts, and compares
    * natively — the exec is unchanged. A struct literal is never null
    * even when a field is, so the struct is wrapped in an
    * any-field-null ⇒ null guard to keep SQL equi-join semantics: a row
    * with any null key column matches nothing. */
  /** Fold several key attributes into one comparable expression: a single
    * attribute passes through; several become a struct (natively
    * hash-partitionable/sortable/comparable) wrapped in an
    * any-field-null ⇒ null guard, since a struct value is never null even
    * when a field is and SQL equi-join semantics demand null matches
    * nothing. */
  private[plans] def compositeKey(attrs: Seq[Attribute]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{
      CreateStruct, If, IsNull, Literal, Or}
    if (attrs.length == 1) attrs.head
    else {
      val st = CreateStruct(attrs)
      if (attrs.forall(!_.nullable)) st
      else If(attrs.map(IsNull(_): Expression).reduce(Or),
        Literal.create(null, st.dataType), st)
    }
  }

  def asofJoinMulti(left: DataFrame, right: DataFrame,
      leftKeyCols: Seq[String], rightKeyCols: Seq[String],
      leftTimeCol: String, rightTimeCol: String,
      tolerance: Option[Long] = None,
      forward: Boolean = false): DataFrame = {
    require(leftKeyCols.nonEmpty, "need at least one key column")
    require(leftKeyCols.length == rightKeyCols.length,
      s"key column lists differ in length: $leftKeyCols vs $rightKeyCols")
    val spark = left.sparkSession
    GraftSqlBridge.addStrategy(spark, AsOfJoinStrategy)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name).mkString(", ")}"))
    val lk = compositeKey(leftKeyCols.map(resolve(lPlan, _)))
    val rk = compositeKey(rightKeyCols.map(resolve(rPlan, _)))
    // structural: the two sides' struct keys carry their own field NAMES,
    // but ordering/hashing/comparison only see field types and values
    require(org.apache.spark.sql.types.DataType.equalsStructurally(
        lk.dataType, rk.dataType, ignoreNullability = true),
      s"as-of key columns must share types: ${lk.dataType} vs ${rk.dataType}")
    require(resolve(lPlan, leftTimeCol).dataType == resolve(rPlan, rightTimeCol).dataType,
      "as-of time columns must share a type")
    GraftSqlBridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan, lk, rk,
      resolve(lPlan, leftTimeCol), resolve(rPlan, rightTimeCol),
      tolerance, forward))
  }
}
