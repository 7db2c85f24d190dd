package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** The one way the native functions enter a session's registry outside
  * `GraftExtensions`. */
object Registration {

  /** Register `name` unless the session already has it — injected by
    * `GraftExtensions`, or registered by an earlier call. Replacing it
    * would discard the injected builder and log a WARN on every use. */
  def ensure(spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "internal")
  }
}
