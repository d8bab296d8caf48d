package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, PREFER_SHUFFLE_HASH, ResolvedHint}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Spark internals needed to expose
  * native Catalyst expressions as user-facing `Column`s and SQL
  * functions, and to set join-strategy hints the public `hint()` names
  * do not reach. Lives under `org.apache.spark.sql` for access; everything
  * else in the engine stays in the public API.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native expression builder as a SQL temp function. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Drain the async listener bus (diagnostics only — Profile uses it
    * to fence stage-completed events against its record toggle; the
    * bus is `private[spark]`, hence the bridge).
    */
  def waitListenerBusEmpty(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** `df` as a join side carrying Spark's internal PREFER_SHUFFLE_HASH
    * strategy hint (the one AQE's DynamicJoinSelection sets; no public
    * hint name maps to it). Unlike `hint("shuffle_hash")` it leaves the
    * size-based broadcast choice open: the planner broadcasts this side
    * when its (runtime) size is under the broadcast threshold, else
    * builds a ShuffledHashJoin on it — never a SortMergeJoin.
    */
  def preferShuffleHash(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      ResolvedHint(ds.logicalPlan, HintInfo(Some(PREFER_SHUFFLE_HASH))))
  }
}
