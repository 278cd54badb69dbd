package org.apache.spark.sql.rmbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters, so
  * native Catalyst expressions (graft.functions.*) can surface as Columns —
  * the standard pattern for Spark extension libraries that ship their own
  * expressions without going through a FunctionRegistry — and into the
  * `private[spark]` listener bus. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether `c` is the literal `v`, as `lit(v)` builds it. */
  def isLiteral(c: Column, v: Any): Boolean = c.node match {
    case org.apache.spark.sql.internal.Literal(x, _, _) => x == v
    case _ => false
  }

  /** Block until every event posted so far has reached its listeners, so
    * counts a listener keeps are complete when read. Listener events are
    * delivered asynchronously; without this, a reader that stops right
    * after an action returns races ahead of that action's last events. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
