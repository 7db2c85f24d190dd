package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.Kernels

/** Config-time injection: `spark.sql.extensions=graft.plans.GraftExtensions`
  * wires the whole custom surface — the as-of planner strategy, its SQL
  * table function, and every native kernel in [[Kernels]] under its SQL
  * name — into every session of the application. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // SQL text surface for the as-of join: TVF parse + side-aware resolve
    e.injectTableFunction((AsOfSql.identifier, AsOfSql.info, AsOfSql.builder))
    e.injectResolutionRule(_ => ResolveAsOfJoinTvf)
    Kernels.all.foreach { k =>
      e.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo(k.expressionClass.getName, k.name), k.builder))
    }
  }
}
