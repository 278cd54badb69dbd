package graft.rules

import org.apache.spark.sql.Column

import graft.functions.ParseCascade

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
}
