package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-record error capture for `when` / `record_when` predicates: the
  * reference treats an eval error in these conditions as "condition is
  * false" plus a [[Engine.Warning]] (eval_when / eval_record_when,
  * transform.rs:1041-1091) — the record or mapping is skipped, the run
  * continues, and the warning surfaces on the CLI/MCP/preflight side
  * channel. A raised engine error aborts a Spark job, so predicates that
  * can raise (statically detected via the RMERR marker literal) are
  * wrapped in this expression, which evaluates the predicate per record
  * and catches the raise instead.
  *
  * Output: struct<ok boolean, kind string, path string, message string> —
  * `ok` is the condition result (false on error), the other fields are
  * null unless an error was caught. Only predicates that CAN raise are
  * ever wrapped, so the common pure-comparison predicate keeps its plain
  * codegen'd (and, for record_when, parquet-pushable) form; this wrapper
  * itself is a CodegenFallback, which is fine for the rare error-capable
  * condition. */
case class CaughtCond(child: Expression, defaultPath: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = CaughtCond.schema
  override def nullable: Boolean = false
  override def prettyName: String = "rm_caught_cond"

  override def eval(input: InternalRow): Any =
    try {
      val v = child.eval(input)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](java.lang.Boolean.TRUE.equals(v), null, null, null))
    } catch {
      case t: Throwable if scala.util.control.NonFatal(t) =>
        val (kind, path, msg) = ExprCompiler.RmError.fromThrowable(t) match {
          case Some(e) => (e.kind, if (e.path.nonEmpty) e.path else defaultPath, e.message)
          case None => ("ExprError", defaultPath,
            Option(t.getMessage).getOrElse(t.getClass.getSimpleName))
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](false, UTF8String.fromString(kind),
            UTF8String.fromString(path), UTF8String.fromString(msg)))
    }

  override protected def withNewChildInternal(newChild: Expression): CaughtCond =
    copy(child = newChild)
}

object CaughtCond {
  val schema: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("kind", StringType),
    StructField("path", StringType),
    StructField("message", StringType)))

  /** The (kind, path, message) element type of a warnings array column. */
  val warningSchema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("path", StringType),
    StructField("message", StringType)))

  /** Wrap a keep predicate; see class doc. */
  def apply(keep: Column, defaultPath: String): Column =
    Bridge.column(CaughtCond(Bridge.expression(keep), defaultPath))

  /** Wrap a trace-only value: null where evaluating it raises. */
  def value(c: Column): Column = Bridge.column(CaughtValue(Bridge.expression(c)))

  /** Does evaluating this column potentially raise an engine error? All
    * data-dependent raises go through RmError.raiseCol, whose marker
    * literal ("RMERR|") is visible in the column's expression tree — a
    * static, conservative detector (false positives only if user data
    * contains the marker in a LITERAL, which rules cannot express). */
  def canRaise(c: Column): Boolean =
    Bridge.expression(c).toString.contains("RMERR|")
}

/** The value-side sibling of [[CaughtCond]] for values the engine only
  * records (the endpoint's rich trace): the child's value, or null when
  * evaluating it raises. A CodegenFallback, so subexpression elimination
  * never hoists the guarded child out of the catch. */
case class CaughtValue(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "rm_caught_value"

  override def eval(input: InternalRow): Any =
    try child.eval(input)
    catch { case t: Throwable if scala.util.control.NonFatal(t) => null }

  override protected def withNewChildInternal(newChild: Expression): CaughtValue =
    copy(child = newChild)
}
