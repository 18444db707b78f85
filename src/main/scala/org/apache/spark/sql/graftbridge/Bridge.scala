package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[spark]` members the engine needs.
  *
  * Spark 4 moved the Column↔Expression conversions behind
  * `private[sql] org.apache.spark.sql.classic.ExpressionUtils`; extension
  * libraries reach them from a sub-package of `org.apache.spark.sql` (the
  * same access pattern used by public Spark connector/extension projects).
  * This is the only file outside the `graft` namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Waits until every event already posted to the listener bus has been
    * delivered, so a listener has seen every job that ran before the
    * call. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
