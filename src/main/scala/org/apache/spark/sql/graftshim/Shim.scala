package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made these converters private[sql]
  * (the Column API is connect-agnostic); extension libraries bridge from
  * inside the package namespace — the same approach other Spark extension
  * projects use. Only this file lives under org.apache.spark.sql.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every queued listener event is delivered. Task metrics
    * arrive on the asynchronous listener bus; a metrics reader that
    * resets counters between measured sections without draining first
    * can attribute one section's late onTaskEnd events to the next.
    * `listenerBus` is private[spark], hence bridged here.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext,
      timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}

/** ExpectsInputTypes with a (long, long) contract — `AbstractDataType`
  * (the `inputTypes` element type) is private[sql], so the trait is
  * declared here and mixed into graft expressions that take two long
  * inputs (e.g. BucketedBloomMightContain): analysis rejects wrong input
  * types uniformly instead of ClassCastException-in-interpreted /
  * silent-widening-in-codegen divergence.
  */
trait ExpectsLongLongInputs
    extends org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.LongType)
}
