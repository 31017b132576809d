package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow bridge into Spark's `private[sql]` and `private[spark]` API:
  * Dataset construction (graft.Bench re-plans a registered query minus
  * its top-level presentation Sort, so operator cost and
  * oracle-determinism cost can be reported separately) and the listener
  * bus's completion barrier (graft.Metrics). Lives in this package
  * solely for access; no Spark behavior is modified.
  */
object GraftSqlAccess {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a raw Catalyst expression as a user-facing Column (the
    * `private[sql]` bridge Column literals/functions use internally).
    * Used to project graft's broadcast-backed model expressions
    * ([[graft.functions.BroadcastArrayExpr]]) into DataFrame code.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Inverse of [[column]] — the Column's underlying Catalyst
    * expression (spec use: serialization-roundtrip the broadcast
    * model expression the way task dispatch would).
    */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Scala-value → Catalyst-value converter for the given type —
    * exactly the conversion `typedlit` applies to its literal value,
    * exposed so a broadcast-shipped model converts identically.
    */
  def toCatalyst(dataType: org.apache.spark.sql.types.DataType)(v: Any): Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(dataType)(v)

  /** Force-create the driver's StateStoreCoordinator RPC endpoint.
    * Streaming queries do this on start; BATCH-mode stateful operators
    * (`transformWithState` on a batch Dataset) skip that path, and the
    * first state-store load then dies with RpcEndpointNotFoundException.
    * Touching the (lazily created, public-on-classic) coordinator ref
    * before executing registers the endpoint.
    */
  def ensureStateStoreCoordinator(session: SparkSession): Unit = {
    session.asInstanceOf[classic.SparkSession].streams.stateStoreCoordinator
    ()
  }

  /** Block until every listener event posted so far has reached every
    * listener (Spark's own barrier; throws after a 10 s timeout).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
