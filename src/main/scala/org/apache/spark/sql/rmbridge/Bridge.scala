package org.apache.spark.sql.rmbridge

import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.util.DateTimeFormatterHelper
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters, so
  * native Catalyst expressions (graft.functions.*) can surface as Columns —
  * the standard pattern for Spark extension libraries that ship their own
  * expressions without going through a FunctionRegistry — into the
  * session's own Column conversion and optimizer, to fold a constant
  * column on the driver, into Spark's datetime formatter cache, and into
  * the `private[spark]` listener bus. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether `c` is the literal `v`, as `lit(v)` builds it. */
  def isLiteral(c: Column, v: Any): Boolean = c.node match {
    case org.apache.spark.sql.internal.Literal(x, _, _) => x == v
    case _ => false
  }

  /** Whether `c` is built from literals alone: no input column, lambda
    * variable or argument-free function (such as `rand()`) at its leaves,
    * so it has one value, which [[evalConstant]] can compute. */
  def isConstant(c: Column): Boolean =
    SparkSession.active.expression(c).collectLeaves().forall(_.isInstanceOf[Literal])

  /** The Catalyst value of a column that [[isConstant]] accepts, computed
    * once on the driver: it is projected over a one-row local relation,
    * which Catalyst's optimizer folds into a local relation holding the
    * result, so no job starts. */
  def evalConstant(c: Column): Any = {
    val spark = SparkSession.active
    val plan = Dataset.ofRows(spark,
      Project(Seq(Alias(spark.expression(c), "v")()), LocalRelation(Nil, Seq(InternalRow.empty))))
      .queryExecution.optimizedPlan
    plan match {
      case LocalRelation(Seq(a), Seq(row), _, _) => row.get(0, a.dataType)
      case p => throw new IllegalStateException(s"constant column did not fold: $p")
    }
  }

  /** The `java.time` formatter that Spark's own datetime parser
    * (`to_timestamp` / `try_to_timestamp` with an explicit format) parses
    * `pattern` with: the same cached instance, built with the parser's
    * default locale. */
  def parsingFormatter(pattern: String): DateTimeFormatter =
    Formatters.forParsing(pattern)

  private object Formatters extends DateTimeFormatterHelper {
    def forParsing(pattern: String): DateTimeFormatter =
      getOrCreateFormatter(pattern, Locale.US, isParsing = true)
  }

  /** Block until every event posted so far has reached its listeners, so
    * counts a listener keeps are complete when read. Listener events are
    * delivered asynchronously; without this, a reader that stops right
    * after an action returns races ahead of that action's last events. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
