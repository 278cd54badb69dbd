package graft.functions

import java.text.ParsePosition
import java.time.format.DateTimeFormatter

import scala.util.Try

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.{lit, try_to_timestamp}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types.DataType

/** First-match-wins timestamp parse over an ordered format list: the first
  * non-null of `attempts` — `try_to_timestamp(input, formats(i))`, in
  * order — which is what `coalesce(attempts: _*)` gives, without the
  * exception that `try_to_timestamp` raises and catches for every format
  * that does not match.
  *
  * Attempt i runs only when the formatter it parses with
  * ([[Bridge.parsingFormatter]] of `formats(i)`) can `parseUnresolved` the
  * whole string without error. `DateTimeFormatter.parse` runs that same
  * unresolved parse first and throws when it fails, and the attempt then
  * gives null; so a skipped attempt is one that would have given null, and
  * the result is the coalesce's by construction. That holds under the
  * CORRECTED time-parser policy, Spark 4's default: under EXCEPTION or
  * LEGACY a failed parse may consult the legacy parser, so there every
  * attempt runs, as in the coalesce. A format that no formatter can be
  * built for is not screened either. */
case class ParseCascade(input: Expression, attempts: Seq[Expression], formats: Seq[String])
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = input +: attempts
  override def dataType: DataType = attempts.head.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "rm_parse_cascade"

  /** The screen of each attempt; null where the attempt always runs. */
  @transient private lazy val screens: Array[DateTimeFormatter] =
    if (SQLConf.get.legacyTimeParserPolicy != LegacyBehaviorPolicy.CORRECTED)
      Array.fill(formats.size)(null)
    else formats.map(f => Try(Bridge.parsingFormatter(f)).getOrElse(null)).toArray

  override def eval(row: InternalRow): Any = {
    val v = input.eval(row)
    if (v == null) return null // every attempt gives null
    val s = v.toString
    var i = 0
    while (i < screens.length) {
      val screen = screens(i)
      if (screen == null || ParseCascade.readsWhole(screen, s)) {
        val t = attempts(i).eval(row)
        if (t != null) return t
      }
      i += 1
    }
    null
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression])
      : ParseCascade = copy(input = newChildren.head, attempts = newChildren.tail)
}

object ParseCascade {
  /** The first of `formats` (Spark datetime patterns) that parses `s`. */
  def firstMatch(s: Column, formats: Seq[String]): Column =
    Bridge.column(ParseCascade(Bridge.expression(s),
      formats.map(f => Bridge.expression(try_to_timestamp(s, lit(f)))), formats))

  private def readsWhole(f: DateTimeFormatter, s: String): Boolean = {
    val pos = new ParsePosition(0)
    f.parseUnresolved(s, pos) != null && pos.getIndex == s.length
  }
}
