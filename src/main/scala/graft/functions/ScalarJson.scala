package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The JSON text of one string, long, int, double or boolean value, or of
  * an array of one of these: byte for byte what `to_json(struct(v))` writes
  * for the field `v` (Jackson's generator as Spark configures it). Strings
  * escape `"`, `\` and the control characters, with `\b \t \n \f \r` short
  * and the others as upper-case `\u00XX`; other characters are written as
  * they are. Doubles print as `Double.toString`, NaN and ±Infinity quoted.
  * Null is `null`, so the result is never null. */
case class ScalarJson(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "rm_scalar_json"

  private lazy val kind: Int = ScalarJson.kindOf(child.dataType match {
    case ArrayType(et, _) => et
    case t => t
  })
  private def isArray: Boolean = child.dataType.isInstanceOf[ArrayType]

  override def eval(row: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(row)
    if (v == null) ScalarJson.Null
    else if (isArray) ScalarJson.array(v.asInstanceOf[ArrayData], kind)
    else ScalarJson.compute(v, kind)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val obj = "graft.functions.ScalarJson$.MODULE$"
    val call = if (isArray) s"$obj.array(${c.value}, $kind)" else kind match {
      case ScalarJson.Str => s"$obj.string(${c.value})"
      case ScalarJson.Real => s"$obj.real(${c.value})"
      case ScalarJson.Bool => s"$obj.bool(${c.value})"
      case _ => s"$obj.integral((long) ${c.value})"
    }
    ev.copy(code = code"""${c.code}
      |UTF8String ${ev.value} = ${c.isNull} ? $obj.Null() : $call;""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ScalarJson =
    copy(child = newChild)
}

object ScalarJson {
  private final val Str = 0
  private final val Long64 = 1
  private final val Int32 = 2
  private final val Real = 3
  private final val Bool = 4

  private def kindOf(t: DataType): Int = t match {
    case _: StringType => Str
    case LongType => Long64
    case IntegerType => Int32
    case DoubleType => Real
    case BooleanType => Bool
    case _ => -1
  }

  /** Whether [[ScalarJson]] encodes values of type `t`. */
  def supports(t: DataType): Boolean = t match {
    case ArrayType(et, _) => kindOf(et) >= 0
    case _ => kindOf(t) >= 0
  }

  /** The JSON text of a column of a type that [[supports]] accepts. */
  def encode(c: Column): Column = Bridge.column(ScalarJson(Bridge.expression(c)))

  /** `s` as a JSON string literal: for the keys written at plan time. */
  def quote(s: String): String = appendString(new java.lang.StringBuilder, s).toString

  val Null: UTF8String = UTF8String.fromString("null")
  private val True = UTF8String.fromString("true")
  private val False = UTF8String.fromString("false")
  private val Quote = UTF8String.fromString("\"")

  /** One scalar by its kind. */
  def compute(v: Any, kind: Int): UTF8String = kind match {
    case Str => string(v.asInstanceOf[UTF8String])
    case Long64 => integral(v.asInstanceOf[Long])
    case Int32 => integral(v.asInstanceOf[Int])
    case Real => real(v.asInstanceOf[Double])
    case Bool => bool(v.asInstanceOf[Boolean])
  }

  /** A string of printable ASCII without `"` or `\` is its bytes quoted;
    * any other goes through the escaper. */
  def string(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < s.numBytes) {
      val b = Platform.getByte(base, off + i)
      if (b < 0x20 || b == '"' || b == '\\') // non-ASCII bytes are negative
        return UTF8String.fromString(appendString(new java.lang.StringBuilder, s.toString).toString)
      i += 1
    }
    UTF8String.concat(Quote, s, Quote)
  }

  def integral(v: Long): UTF8String = UTF8String.fromString(java.lang.Long.toString(v))

  def real(d: Double): UTF8String =
    UTF8String.fromString(appendReal(new java.lang.StringBuilder, d).toString)

  def bool(b: Boolean): UTF8String = if (b) True else False

  /** An array whose elements are of `kind`; null elements are `null`. */
  def array(a: ArrayData, kind: Int): UTF8String = {
    val sb = new java.lang.StringBuilder("[")
    var i = 0
    while (i < a.numElements) {
      if (i > 0) sb.append(',')
      if (a.isNullAt(i)) sb.append("null")
      else kind match {
        case Str => appendString(sb, a.getUTF8String(i).toString)
        case Long64 => sb.append(a.getLong(i))
        case Int32 => sb.append(a.getInt(i))
        case Real => appendReal(sb, a.getDouble(i))
        case Bool => sb.append(a.getBoolean(i))
      }
      i += 1
    }
    UTF8String.fromString(sb.append(']').toString)
  }

  private def appendReal(sb: java.lang.StringBuilder, d: Double): java.lang.StringBuilder =
    if (java.lang.Double.isFinite(d)) sb.append(java.lang.Double.toString(d))
    else sb.append('"').append(java.lang.Double.toString(d)).append('"')

  private val Hex = "0123456789ABCDEF"

  private def appendString(sb: java.lang.StringBuilder, s: String): java.lang.StringBuilder = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case _ if c < 0x20 =>
          sb.append("\\u00").append(Hex.charAt(c >> 4)).append(Hex.charAt(c & 0xF))
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}
