package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Minimal bridge into `private[sql]` Spark internals, isolated in a
  * subpackage of `org.apache.spark.sql` (the standard technique for Spark
  * extension libraries that need to wrap a custom [[LogicalPlan]] into a
  * public DataFrame). Everything else in graft stays on public API; only
  * the entry points below live here, so the internal surface area stays
  * a handful of lines wide and easy to audit against Spark upgrades.
  */
object GraftSqlBridge {

  /** Wrap a raw Catalyst expression as a public Column (Spark 4 removed
    * the public `new Column(expr)` path). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The reverse direction: a Column's underlying Catalyst expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an (analyzed-child) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Clamp a checkpointed frame's snapshotted size statistics.
    *
    * `Dataset.checkpoint`/`localCheckpoint` snapshot the child plan's
    * estimated `Statistics` into the returned [[
    * org.apache.spark.sql.execution.LogicalRDD]]. The size-only
    * estimator multiplies child sizes at every join, so an ITERATIVE
    * operator that checkpoints each round compounds the estimate
    * round over round — and a round containing a SELF-join SQUARES it,
    * doubling the BigInt's digit count per round. After ~15 such
    * rounds the driver spends minutes inside
    * `SizeInBytesOnlyStatsPlanVisitor` multiplying million-digit
    * BigIntegers (observed live on the connected-components loop: a
    * 48 s driver stall between sub-second jobs, main thread pinned in
    * `BigInteger.multiplyToomCook3`). Clamping the snapshot at a value
    * far above every broadcast threshold keeps the arithmetic bounded
    * without changing any planner decision: frames small enough to
    * broadcast keep their exact estimate, frames past the cap merely
    * read "huge" instead of "astronomically huge". */
  def capCheckpointStats(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.execution.LogicalRDD
    val capBytes: BigInt = BigInt(1L << 60) // ~1.15 exabytes
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.queryExecution.logical match {
      case lr: LogicalRDD =>
        val st = lr.computeStats()
        if (st.sizeInBytes <= capBytes && st.rowCount.forall(_ <= capBytes))
          df
        else {
          val capped = Statistics(
            sizeInBytes = st.sizeInBytes.min(capBytes),
            rowCount = st.rowCount.map(_.min(capBytes)),
            attributeStats = st.attributeStats,
            isRuntime = st.isRuntime)
          classic.Dataset.ofRows(ds.sparkSession,
            LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
              lr.outputOrdering, lr.isStreaming, lr.stream)(
              ds.sparkSession, Some(capped), Some(lr.constraints)))
        }
      case _ => df
    }
  }

  /** Free a checkpointed frame's blocks. A checkpoint's rows live under
    * the RDD its [[org.apache.spark.sql.execution.LogicalRDD]] wraps;
    * `Dataset.unpersist` looks the frame up in the cache manager, where
    * a checkpoint never is, and so frees nothing. Unpersisting the
    * wrapped RDD drops it from `getPersistentRDDs` and removes its
    * blocks before returning. Any later read of the frame fails loudly
    * with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`. A frame that is not a
    * bare checkpoint is left alone. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = true)
      case _ =>
    }

  /** Idempotently add a planner strategy to the session (the runtime
    * equivalent of `spark.sql.extensions` config-time injection). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s)) {
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
    }
  }

  /** The name of the operator scope an RDD was made in (`WriteFiles`,
    * `Exchange`, `WholeStageCodegen (3)`), if it has one. */
  def scopeName(rdd: org.apache.spark.storage.RDDInfo): Option[String] =
    rdd.scope.map(_.name)
}
