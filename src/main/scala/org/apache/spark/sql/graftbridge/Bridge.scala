package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 made `ExpressionUtils` (and the whole Column-node layer)
  * private[sql]; third-party expression libraries conventionally
  * expose it via a shim in an org.apache.spark.sql subpackage. This is
  * the only place the engine reaches into Spark internals: the Column
  * layer, the function registry, the listener bus that
  * [[graft.Profile]] reads, and the size of a built broadcast relation.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function builder in a session's FunctionRegistry
    * (the registry lives behind private[sql] sessionState).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
      builder)
  }

  /** Block until every event already posted to the listener bus has
    * been delivered to every listener (10 s bound, then
    * `TimeoutException`). After an action returns, its job, task,
    * SQL-execution and streaming-progress events are all posted, so
    * one call makes a listener's view of that action complete.
    */
  def waitForListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `observe()` metrics of a finished SQL execution, empty for a
    * failed one or an event that carries no QueryExecution.
    */
  def observedMetrics(
      e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Map[String, org.apache.spark.sql.Row] =
    if (e.qe == null || e.executionFailure.isDefined) Map.empty
    else e.qe.observedMetrics

  /** Class name and `estimatedSize` in bytes of the relation each
    * broadcast exchange of an executed plan built, AQE query stages
    * included. Call it after an action: a broadcast that has run is
    * read back, not rebuilt. Hash relations are private to Spark's
    * join package, so their size is read through the
    * `KnownSizeEstimation` they implement.
    */
  def broadcastRelationSizes(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[(String, Long)] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike =>
          e.relationFuture.get().value
      }
      .collect { case r: org.apache.spark.util.KnownSizeEstimation =>
        r.getClass.getSimpleName -> r.estimatedSize
      }
}
