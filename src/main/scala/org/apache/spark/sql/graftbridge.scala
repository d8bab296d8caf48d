package org.apache.spark.sql.graftbridge

import org.apache.spark.scheduler.StageInfo
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

  /** Drain the async listener bus: every event posted so far has
    * reached every listener when this returns (`graft.Metrics` reads
    * its counts after it; the bus is `private[spark]`).
    */
  def waitListenerBusEmpty(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** A stage named by the operators that built it: the names of the
    * distinct RDD operation scopes of its RDDs in RDD id order, e.g.
    * `AQEShuffleRead -> WholeStageCodegen (3) -> Exchange` (the Spark
    * UI's DAG boxes; the scope type is `private[spark]`). Falls back to
    * the call-site name, which for an AQE query stage only names the
    * future that submitted it.
    */
  def stageLabel(si: StageInfo): String = {
    val scopes = si.rddInfos.sortBy(_.id).flatMap(_.scope).distinct.map(_.name.trim)
    if (scopes.isEmpty) si.name else scopes.mkString(" -> ")
  }

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
