package graft.functions

import java.text.{ParseException, ParsePosition}
import java.time.DateTimeException
import java.time.format.DateTimeFormatter

import scala.util.Try

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types.{DataType, TimestampNTZType}
import org.apache.spark.unsafe.types.UTF8String

/** First-match-wins timestamp parse over an ordered format list: the first
  * non-null of `try_to_timestamp(input, formats(i))`, in order, which is
  * what `coalesce` of those calls gives, as one expression with generated
  * code. `dataType` is the type `try_to_timestamp` gives (the session's
  * `timestampType`).
  *
  * Each format's parser is built once, as `try_to_timestamp` builds it:
  * `TimestampFormatter(format, zone, SIMPLE_DATE_FORMAT, isParsing = true)`
  * under the session's time-parser policy. A parse that fails with one of
  * the exceptions `try_to_timestamp` maps to null (`DateTimeException`,
  * `ParseException`) moves on to the next format; any other exception
  * (such as the upgrade error of the EXCEPTION policy) is raised.
  *
  * Format i is tried only when the formatter it parses with
  * ([[Bridge.parsingFormatter]] of `formats(i)`) can `parseUnresolved` the
  * whole string without error. `DateTimeFormatter.parse` runs that same
  * unresolved parse first and throws when it fails, and the attempt then
  * gives null; so a skipped attempt is one that would have given null, and
  * no exception is raised and caught for it. That holds under the CORRECTED
  * time-parser policy, Spark 4's default: under EXCEPTION or LEGACY a
  * failed parse may consult the legacy parser, so there every format is
  * tried. A format that no formatter can be built for is not screened
  * either. */
case class ParseCascade(input: Expression, formats: Seq[String], dataType: DataType,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def child: Expression = input
  override def nullable: Boolean = true
  override def prettyName: String = "rm_parse_cascade"
  override def withTimeZone(id: String): ParseCascade = copy(timeZoneId = Option(id))

  private def ntz: Boolean = dataType == TimestampNTZType

  /** The screen of each format; null where the format is always tried. */
  @transient private lazy val screens: Array[DateTimeFormatter] =
    if (SQLConf.get.legacyTimeParserPolicy != LegacyBehaviorPolicy.CORRECTED)
      Array.fill(formats.size)(null)
    else formats.map(f => Try(Bridge.parsingFormatter(f)).getOrElse(null)).toArray

  @transient private lazy val parsers = new Array[TimestampFormatter](formats.size)

  /** Format i's parser, built when a value first reaches it, as each
    * `try_to_timestamp` of the `coalesce` builds its own: a pattern that
    * cannot be built (under LEGACY, `SimpleDateFormat` knows no `x`) raises
    * only for a value that no earlier format parses. */
  private def parser(i: Int): TimestampFormatter = {
    if (parsers(i) == null) parsers(i) = TimestampFormatter(formats(i), zoneId,
      LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true, forTimestampNTZ = ntz)
    parsers(i)
  }

  override protected def nullSafeEval(v: Any): Any =
    ParseCascade.compute(this, v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cascade", this)
    val r = ctx.freshName("micros")
    nullSafeCodeGen(ctx, ev, s =>
      s"""java.lang.Long $r = graft.functions.ParseCascade$$.MODULE$$.compute($self, $s);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseCascade =
    copy(input = newChild)
}

object ParseCascade {
  /** The first of `formats` (Spark datetime patterns) that parses `s`. */
  def firstMatch(s: Column, formats: Seq[String]): Column =
    Bridge.column(ParseCascade(Bridge.expression(s), formats, SQLConf.get.timestampType))

  /** The micros (or local micros) of the first of `c`'s formats that
    * parses `v`, or null when none does. */
  def compute(c: ParseCascade, v: UTF8String): java.lang.Long = {
    val s = v.toString
    val screens = c.screens
    var i = 0
    while (i < screens.length) {
      if (screens(i) == null || readsWhole(screens(i), s)) {
        val p = c.parser(i)
        try return java.lang.Long.valueOf(if (c.ntz) p.parseWithoutTimeZone(s) else p.parse(s))
        catch { case _: DateTimeException | _: ParseException => }
      }
      i += 1
    }
    null
  }

  private def readsWhole(f: DateTimeFormatter, s: String): Boolean = {
    val pos = new ParsePosition(0)
    f.parseUnresolved(s, pos) != null && pos.getIndex == s.length
  }
}
