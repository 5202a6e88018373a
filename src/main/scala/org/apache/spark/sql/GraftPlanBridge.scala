package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Dataset constructor so graft's custom
  * logical operators (graft.plans.*) can surface as DataFrames. This is
  * the standard technique Spark extension libraries use — the whole
  * extension API (strategies, rules) exchanges LogicalPlans, but the
  * only sanctioned DataFrame constructor from a plan lives behind
  * `private[sql]`. Besides that call, only the Column ⇄ Expression pair,
  * the listener-bus drain and the cache-entry count below reach
  * anything internal. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ⇄ Expression, so graft's native codegen'd expressions
    * (functions.VecCosine, functions.CharStats) are usable from the
    * DataFrame API in a PLAIN session — no SparkSessionExtensions
    * function-registry install required (Verify/Bench run vanilla
    * sessions). Same `private[sql]` surface the built-in functions
    * object uses internally. */
  def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Waits until every queued listener event has been delivered
    * (`private[spark]`), so counters read afterwards
    * (`graft.core.RunCounters`) cover all the work before the call. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries in the shared `CacheManager` (the list itself is
    * `private`): a `persist` adds one, its `unpersist` removes it. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
