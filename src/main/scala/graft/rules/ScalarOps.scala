package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import ExprCompiler._
import ExprCompiler.Op._

/** The scalar ops: strings, numbers, booleans and comparisons (the v1 op
  * regime: string-coerced ==), strict casts and `coalesce`. */
object ScalarOps {

  val ops: Seq[Op] = Seq(
    Op(Seq("concat"), Seq(Strings)) { c => import c._
      val parts = allArgs.map(rmToString)
      CE(concat(parts.map(_.value): _*), missingAny(nArgs), StringType)
    },
    Op(Seq("to_string"), Seq(Strings))(c => rmToString(c.a0)),
    Op(Seq("trim"), Seq(Strings))(onString(trim)),
    Op(Seq("lowercase"), Seq(Strings))(onString(lower)),
    Op(Seq("uppercase"), Seq(Strings))(onString(upper)),
    Op(Seq("replace"), Seq(Strings)) { c => import c._
      val mode = litString(nArgs - 1)
        .filter(Seq("all", "first", "regex", "regex_all").contains).getOrElse("first")
      val (from, to) = (arg(1), arg(2))
      val v = mode match {
        case "all" => replace(a0.value, from.value, to.value)
        case "first" =>
          // literal first occurrence: locate + splice
          val pos = instr(a0.value, from.value)
          when(pos === 0 || length(from.value) === 0, a0.value).otherwise(
            concat(substring(a0.value, lit(1), pos - 1), to.value,
              a0.value.substr(pos + length(from.value), length(a0.value))))
        case "regex_all" => regexp_replace(a0.value, from.value, to.value)
        case "regex" =>
          // first-match-only (transform.rs:2155-2236): locate the first
          // match, regex-replace within just that span (keeps $1 group
          // substitution), splice the remainder back unchanged
          val pos = call_function("regexp_instr", a0.value, from.value)
          val m = call_function("regexp_extract", a0.value, from.value, lit(0))
          when(pos === 0, a0.value).otherwise(concat(
            a0.value.substr(lit(1), pos - 1),
            regexp_replace(m, from.value, to.value),
            a0.value.substr(pos + length(m), length(a0.value))))
      }
      CE(v, a0.missing || from.missing || to.missing, StringType)
    },
    Op(Seq("split"), Seq(Strings)) { c => import c._
      val delim = litString(1).getOrElse(",")
      CE(split(rmToString(a0).value, java.util.regex.Pattern.quote(delim), -1),
        a0.missing, ArrayType(StringType))
    },
    Op(Seq("pad_start", "pad_end"), Seq(Strings)) { c => import c._
      // pad to target char length; never truncate the original
      val s = rmToString(a0)
      val len = arg(1).value.cast(IntegerType)
      val padStr = argOpt(2).map(_.value).getOrElse(lit(" "))
      val fname = if (op == "pad_start") "lpad" else "rpad"
      CE(call_function(fname, s.value, greatest(len, length(s.value)), padStr),
        a0.missing || arg(1).missing, StringType)
    },

    Op(Seq("+"), Seq(Numeric), aliases = Seq("add"))(arithmetic(_ + _, all = true)),
    Op(Seq("-"), Seq(Numeric), aliases = Seq("subtract"))(arithmetic(_ - _, all = false)),
    Op(Seq("*"), Seq(Numeric), aliases = Seq("multiply"))(arithmetic(_ * _, all = true)),
    Op(Seq("/"), Seq(Numeric), aliases = Seq("divide"))(arithmetic(_ / _, all = false)),
    Op(Seq("round"), Seq(Numeric))(c =>
      CE(round(rmToNumber(c.a0).value, c.litInt(1).getOrElse(0)), c.a0.missing, DoubleType)),
    Op(Seq("to_base"), Seq(Numeric)) { c => import c._
      val base = litInt(1).getOrElse(throw CompileError("to_base needs literal base"))
      CE(lower(conv(rmToNumber(a0).value.cast(LongType).cast(StringType), 10, base)),
        a0.missing, StringType)
    },

    // first non-null, missing skipped (transform.rs:1434-1458)
    Op(Seq("coalesce"), Seq(Other)) { c => import c._
      choose(allArgs.map(e => (!e.missing && !isJsonNull(e)) -> e), CE.present(lit(null), NullType),
        missing = lit(false))
    },

    Op(Seq("and", "or"), Seq(Logical), bool = true) { c => import c._
      // missing operands skipped; short-circuit wins; missing seen with no
      // short-circuit ⇒ missing (transform.rs:5340-5388)
      val bools = allArgs.map(e => (e.value.cast(BooleanType), e.missing))
      val anyMissing = missingAny(nArgs)
      val folded =
        if (op == "and") bools.map { case (v, m) => when(m, lit(true)).otherwise(v) }.reduce(_ && _)
        else bools.map { case (v, m) => when(m, lit(false)).otherwise(v) }.reduce(_ || _)
      val missingOut = if (op == "and") anyMissing && folded else anyMissing && !folded
      CE(folded, missingOut, BooleanType)
    },
    Op(Seq("not"), Seq(Logical), bool = true)(c =>
      CE(!c.a0.value.cast(BooleanType), c.a0.missing, BooleanType)),
    Op(Seq("==", "!="), Seq(Comparison), bool = true) { c => import c._
      // v1 equality: string-coerced both sides; null==null true; a missing
      // operand compares like null (t10 user_missing) — the result is
      // never missing (compare_eq, transform.rs:5480-5493)
      val l = rmToString(a0); val r = rmToString(arg(1))
      val lNone = a0.missing || l.value.isNull
      val rNone = arg(1).missing || r.value.isNull
      val eqv = (lNone && rNone) ||
        (!lNone && !rNone && coalesce(l.value === r.value, lit(false)))
      CE(if (op == "==") eqv else !eqv, lit(false), BooleanType)
    },
    Op(Seq("<", "<=", ">", ">="), Seq(Comparison), bool = true) { c => import c._
      val l = rmToNumber(a0).value; val r = rmToNumber(arg(1)).value
      val v = op match {
        case "<" => l < r; case "<=" => l <= r; case ">" => l > r; case _ => l >= r
      }
      CE(v, missingAny(2), BooleanType)
    },
    Op(Seq("~="), Seq(Comparison), bool = true) { c => import c._
      CE(a0.value.rlike(litString(1)
        .getOrElse(throw CompileError("~= needs literal pattern"))), a0.missing, BooleanType)
    },

    // strict (transform.rs:5939-5994): int rejects non-integral floats,
    // float rejects non-finite, bool accepts only true/false
    Op(Seq("string", "int", "float"), Seq(Casts))(cast),
    Op(Seq("bool"), Seq(Casts), bool = true)(cast))

  /** `f` of the stringified first argument. */
  private def onString(f: Column => Column)(c: Call): CE =
    CE(f(rmToString(c.a0).value), c.a0.missing, StringType)

  /** `f` over the numeric args: all of them, folded left, or the first two. */
  private def arithmetic(f: (Column, Column) => Column, all: Boolean)(c: Call): CE = {
    val nums = if (all) c.allArgs.map(rmToNumber(_).value)
      else Seq(rmToNumber(c.a0).value, rmToNumber(c.arg(1)).value)
    CE(nums.reduce(f), c.missingAny(if (all) c.nArgs else 2), DoubleType)
  }

  private def cast(c: Call): CE =
    strictCast(c.a0, c.op, if (c.env.errPath.isEmpty) "expr" else c.env.errPath)

  /** Strict cast_value semantics (transform.rs:5925-6002): int rejects
    * non-integral and non-numeric values, float rejects non-finite, bool
    * accepts only booleans and "true"/"false". Data-dependent failures
    * raise (TypeCastFailed, path) from the executor. */
  def strictCast(e: CE, to: String, path: String): CE = {
    def fail(msg: String): Column = RmError.raiseCol("TypeCastFailed", path, msg)
    val numRe = "^[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?$"
    val intRe = "^[+-]?\\d+$"
    to match {
      case "string" => rmToString(e)
      case "int" =>
        val v = e.tpe match {
          case LongType | IntegerType | ShortType | ByteType => e.value.cast(LongType)
          case DoubleType | FloatType =>
            val d = e.value.cast(DoubleType)
            when(d.isNull, lit(null).cast(LongType))
              .when(isnan(d) || d === Double.PositiveInfinity ||
                d === Double.NegativeInfinity || d =!= floor(d),
                fail("failed to cast to int").cast(LongType))
              .otherwise(d.cast(LongType))
          case StringType | VariantType =>
            // reference: s.parse::<i64>() — integer strings only, "3.0" errors
            val s = e.value.cast(StringType)
            when(s.isNull, lit(null).cast(LongType))
              .when(s.rlike(intRe), s.cast(LongType))
              .otherwise(fail("failed to cast to int").cast(LongType))
          case NullType => lit(null).cast(LongType)
          case BooleanType => fail("failed to cast to int").cast(LongType)
          case t => throw CompileError(s"int cast from $t")
        }
        CE(v, e.missing, LongType)
      case "float" =>
        val v = e.tpe match {
          case DoubleType | FloatType | LongType | IntegerType | ShortType | ByteType =>
            val d = e.value.cast(DoubleType)
            when(d.isNull, lit(null).cast(DoubleType))
              .when(isnan(d) || d === Double.PositiveInfinity ||
                d === Double.NegativeInfinity, fail("failed to cast to float").cast(DoubleType))
              .otherwise(d)
          case StringType | VariantType =>
            // a numeric string out of f64 range parses to infinity, which
            // is as non-finite as any other
            val s = e.value.cast(StringType)
            val d = s.cast(DoubleType)
            when(s.isNull, lit(null).cast(DoubleType))
              .when(s.rlike(numRe) && !d.isin(Double.PositiveInfinity, Double.NegativeInfinity), d)
              .otherwise(fail("failed to cast to float").cast(DoubleType))
          case NullType => lit(null).cast(DoubleType)
          case BooleanType => fail("failed to cast to float").cast(DoubleType)
          case t => throw CompileError(s"float cast from $t")
        }
        CE(v, e.missing, DoubleType)
      case "bool" =>
        val v = e.tpe match {
          case BooleanType => e.value
          case StringType | VariantType =>
            val s = e.value.cast(StringType)
            when(s.isNull, lit(null).cast(BooleanType))
              .when(lower(s) === "true", true)
              .when(lower(s) === "false", false)
              .otherwise(fail("failed to cast to bool").cast(BooleanType))
          case NullType => lit(null).cast(BooleanType)
          case _ => fail("failed to cast to bool").cast(BooleanType)
        }
        CE(v, e.missing, BooleanType)
      case other => throw CompileError(s"unknown cast type: $other")
    }
  }
}
