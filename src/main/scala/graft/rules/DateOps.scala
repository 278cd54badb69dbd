package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ParseCascade

import ExprCompiler._
import ExprCompiler.Op._

/** Date parsing/formatting with the reference's chrono conventions
  * (transform.rs:5522-5660): rule files carry chrono `%`-patterns; Spark
  * needs JVM DateTimeFormatter patterns, so rule patterns are translated at
  * COMPILE time (they are literals), and parsing tries the reference's
  * default format list in order, first match wins
  * ([[graft.functions.ParseCascade]]).
  */
object DateOps {

  /** chrono `%` pattern → Spark datetime pattern. Translated at plan
    * time — unknown specifiers fail compilation rather than silently
    * mis-formatting. */
  def chronoToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    var literal = new StringBuilder
    def flushLiteral(): Unit = if (literal.nonEmpty) {
      val s = literal.toString
      // quote anything that could collide with pattern letters
      if (s.exists(_.isLetter)) sb.append("'").append(s.replace("'", "''")).append("'")
      else sb.append(s)
      literal = new StringBuilder
    }
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        flushLiteral()
        val (spec, consumed) = fmt.charAt(i + 1) match {
          case ':' if i + 2 < fmt.length && fmt.charAt(i + 2) == 'z' => ("XXX", 3)
          case '.' if i + 2 < fmt.length && fmt.charAt(i + 2) == 'f' => (".SSSSSS", 3)
          case c => (chronoSpec(c, fmt), 2)
        }
        sb.append(spec)
        i += consumed
      } else {
        literal.append(fmt.charAt(i))
        i += 1
      }
    }
    flushLiteral()
    sb.toString
  }

  private def chronoSpec(c: Char, fmt: String): String = c match {
    case 'Y' => "yyyy"
    case 'y' => "yy"
    case 'm' => "MM"
    case 'd' => "dd"
    case 'e' => "d"
    case 'H' => "HH"
    case 'I' => "hh"
    case 'M' => "mm"
    case 'S' => "ss"
    case 'f' => "SSSSSS"
    case 'b' | 'h' => "MMM"
    case 'B' => "MMMM"
    case 'a' => "EEE"
    case 'A' => "EEEE"
    case 'j' => "DDD"
    case 'p' => "a"
    case 'z' => "xx"
    case 'T' => "HH:mm:ss"
    case 'F' => "yyyy-MM-dd"
    case 's' => throw ExprCompiler.CompileError("use to_unixtime instead of %s")
    case '%' => "%"
    case other => throw ExprCompiler.CompileError(s"unsupported chrono specifier %$other in $fmt")
  }

  /** The reference's default parse cascade, translated (8 tz-aware + 12
    * naive formats, transform.rs:5522-5546). */
  val defaultFormats: Seq[String] = Seq(
    // tz-aware first
    "%Y-%m-%dT%H:%M:%S%:z", "%Y-%m-%d %H:%M:%S%:z",
    "%Y-%m-%dT%H:%M:%S%.f%:z", "%Y-%m-%d %H:%M:%S%.f%:z",
    "%Y-%m-%dT%H:%M:%S%z", "%Y-%m-%d %H:%M:%S%z",
    "%Y/%m/%d %H:%M:%S%:z", "%Y/%m/%d %H:%M:%S%z",
    // naive
    "%Y-%m-%d", "%Y/%m/%d", "%Y%m%d",
    "%Y-%m-%d %H:%M", "%Y/%m/%d %H:%M",
    "%Y-%m-%d %H:%M:%S", "%Y/%m/%d %H:%M:%S",
    "%Y-%m-%dT%H:%M", "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M:%S%.f", "%Y-%m-%d %H:%M:%S%.f", "%Y/%m/%d %H:%M:%S%.f",
  ).map(chronoToJava)

  /** Parse a string through the cascade: the first format that matches
    * wins, as in the reference loop. The result is that of
    * `coalesce(try_to_timestamp(s, f)…)` over the formats; a format whose
    * formatter cannot read the string is skipped without raising. */
  def parseCascade(s: Column, explicitFormats: Seq[String]): Column = {
    val formats = if (explicitFormats.nonEmpty) explicitFormats.map(chronoToJava)
      else defaultFormats
    ParseCascade.firstMatch(s, formats)
  }

  /** The reference's timezone-argument detection (looks_like_timezone,
    * transform.rs:5674-5679): "UTC", "Z", or a ±offset. */
  def looksLikeTimezone(s: String): Boolean =
    s.equalsIgnoreCase("utc") || s == "Z" ||
      s.headOption.exists(c => c == '+' || c == '-')

  /** parse_timezone (transform.rs:5681-5772) → normalized "+HH:MM" /
    * "-HH:MM" offset string; the rule carries it as a literal, so this runs
    * at plan time. */
  def normalizeOffset(s: String): String = {
    def bad() = throw ExprCompiler.CompileError(
      s"timezone must be UTC or an offset like +09:00, got $s")
    if (s.equalsIgnoreCase("utc") || s == "Z") "+00:00"
    else {
      val sign = s.headOption match {
        case Some('+') => "+"; case Some('-') => "-"; case _ => bad()
      }
      val rest = s.drop(1)
      val (h, m) = rest.split(":", 2) match {
        case Array(hh, mm) => (hh.toIntOption.getOrElse(bad()), mm.toIntOption.getOrElse(bad()))
        case Array(r) if r.length == 2 => (r.toIntOption.getOrElse(bad()), 0)
        case Array(r) if r.length == 4 =>
          (r.take(2).toIntOption.getOrElse(bad()), r.drop(2).toIntOption.getOrElse(bad()))
        case _ => bad()
      }
      if (h < 0 || h > 23 || m < 0 || m > 59) bad()
      f"$sign$h%02d:$m%02d"
    }
  }

  /** `date_format` and `to_unixtime`: chrono patterns translated at plan
    * time. */
  val ops: Seq[Op] = Seq(
    Op(Seq("date_format"), Seq(Dates)) { c => import c._
      // [value, out_fmt, in_fmt|tz?, tz?] — arg 2 is a timezone when it
      // "looks like" one (transform.rs:5674-5679), else input format(s);
      // the tz is a fixed offset the result is converted into
      val outFmtRaw = litString(1)
        .getOrElse(throw CompileError("date_format needs literal format"))
      val (inFmts, tz2) = litString(2) match {
        case Some(s) if looksLikeTimezone(s) => (Nil, Some(s))
        case Some(s) => (Seq(s), None)
        case None => (Nil, None)
      }
      val offset = litString(3).orElse(tz2).map(normalizeOffset)
      val ts0 = parseCascade(rmToString(a0).value, inFmts)
      val ts = offset.map(o => from_utc_timestamp(ts0, o)).getOrElse(ts0)
      // with a fixed offset the zone tokens are compile-time constants:
      // substitute them as literals (the shifted timestamp would
      // otherwise print the session offset)
      val outFmt = chronoToJava(offset match {
        case Some(o) => outFmtRaw.replace("%:z", o).replace("%z", o.replace(":", ""))
        case None => outFmtRaw
      })
      CE(date_format(ts, outFmt), a0.missing, StringType)
    },
    Op(Seq("to_unixtime"), Seq(Dates)) { c => import c._
      // [value, unit|tz?, tz?] — with three args the middle one MUST be a
      // unit; with two it may be a unit or a timezone offset the naive
      // input is interpreted in (eval_to_unixtime, transform.rs:2653-2734)
      val nArgs = allArgs.size
      val (unit, tz1) = litString(1) match {
        case Some(u @ ("s" | "ms")) => (u, None)
        case Some(s) if nArgs == 2 && looksLikeTimezone(s) => ("s", Some(s))
        case Some(_) => throw RmError("ExprError", argPathStr(1), "unit must be s or ms")
        case None => ("s", None)
      }
      val offset = litString(2).orElse(tz1).map(normalizeOffset)
      val ts0 = parseCascade(rmToString(a0).value, Nil)
      // naive wall-clock read in the offset zone → UTC instant; the
      // reference leaves tz-carrying inputs on their own offset, which
      // rules express by omitting the tz arg
      val ts = offset.map(o => to_utc_timestamp(ts0, o)).getOrElse(ts0)
      val v = unit match {
        case "ms" => unix_millis(ts)
        case _ => unix_timestamp(ts)
      }
      CE(v, a0.missing, LongType)
    })
}
