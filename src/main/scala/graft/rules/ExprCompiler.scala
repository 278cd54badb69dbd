package graft.rules

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{JsonToStructs, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._

import graft.functions.ScalarJson

import Model._

/** Compiles the unified rule-expression IR to Catalyst `Column` trees.
  *
  * Every compiled expression is a PAIR of columns: the value and a boolean
  * "missing" flag — the engine-level distinction the reference builds its
  * semantics on (`missing` = reference does not exist; `null` = exists and
  * is null; reference transform.rs:6262-6266). Missing is an ordinary
  * boolean Column, so it can be per-row (a field absent in some records) or
  * per-array-element (inside higher-order lambdas), and Catalyst folds the
  * static cases (lit(true)/lit(false)) away at optimization time.
  *
  * Ops compile to native Spark functions — concat/trim/transform/filter/
  * aggregate etc. — so whole-stage codegen applies; there are no UDFs here.
  * Each op is an entry of one table, [[ops]], whose bodies live in the
  * family files (ScalarOps, ArrayOps, ObjectOps, DateOps).
  * Operator args are compiled LAZILY: higher-order ops (map/filter/find/
  * sort_by/reduce/...) re-compile their lambda argument per element with
  * @item/@acc bound, so those raw expressions must never be compiled in the
  * enclosing scope.
  */
object ExprCompiler {

  final case class CompileError(message: String) extends RuntimeException(message)

  /** Structured engine error with the reference's (kind, path) identity
    * (TransformErrorKind + path, transform.rs error model). Statically
    * detectable errors throw this during compilation; data-dependent errors
    * raise it from the executor through a marker message that
    * [[RmError.recover]] re-raises. */
  final case class RmError(kind: String, path: String, message: String)
      extends RuntimeException(s"$kind at $path: $message") with Diagnostic {
    protected def diagnosticType: String = "transform"
    protected def name: String = kind
    protected def text: String = message
  }

  object RmError {
    private val marker = "RMERR|"

    /** Column that raises a parseable engine error when evaluated. */
    def raiseCol(kind: String, path: String, message: String): Column =
      raise_error(lit(s"$marker$kind|$path|$message"))

    /** Runs `body`, re-raising a rule error found in the chain of what it
      * throws as that [[RmError]]; every other error passes unchanged.
      * Every surface that runs a rule (CLI, MCP, preflight, the endpoint
      * engine) runs it under this and keeps only its own reply. */
    def recover[A](body: => A): A =
      try body
      catch {
        case e: RmError => throw e
        case scala.util.control.NonFatal(t) => throw fromThrowable(t).getOrElse(t)
      }

    /** Recover a raised engine error from an executor exception chain. */
    def fromThrowable(t: Throwable): Option[RmError] = {
      var cur: Throwable = t
      while (cur != null) {
        val m = cur.getMessage
        if (m != null) {
          val i = m.indexOf(marker)
          if (i >= 0) {
            val parts = m.substring(i + marker.length).split("\\|", 3)
            if (parts.length >= 2)
              return Some(RmError(parts(0), parts(1),
                if (parts.length > 2)
                  // raise_error appends " SQLSTATE: P0001" to the message
                  parts(2).replaceFirst("\\s*SQLSTATE: [A-Z0-9]{5}\\s*$", "")
                else ""))
          }
        }
        cur = cur.getCause
      }
      None
    }
  }

  /** value + missing flag + static type (for coercion decisions). */
  case class CE(value: Column, missing: Column, tpe: DataType) {
    /** missing collapses to null at typed boundaries. */
    def valueOrNull: Column = when(missing, lit(null).cast(tpe)).otherwise(value)
  }

  object CE {
    def present(v: Column, t: DataType): CE = CE(v, lit(false), t)
    val missing: CE = CE(lit(null).cast(NullType), lit(true), NullType)
  }

  /** Compilation environment: how each @-namespace resolves. */
  case class Env(
      input: Seq[String] => CE,                 // @input.path
      context: JValue = JNull,                  // @context literal tree
      out: Map[String, CE] = Map.empty,         // @out top-level fields
      item: Option[CE] = None,                  // @item (lambda element)
      itemIndex: Option[Column] = None,         // @item.index
      acc: Option[CE] = None,                   // @acc (fold accumulator)
      pipeValue: Option[CE] = None,             // $
      vars: Map[String, CE] = Map.empty,        // let-bound
      outWhole: Option[CE] = None,              // @out = whole output array (wrap)
      errPath: String = "") {                   // reference-style error path prefix
    def withPipe(v: CE): Env = copy(pipeValue = Some(v))
  }

  // ---- literals ----

  /** A rule or context constant. A scalar is a plain literal. An array or
    * object is typed by [[infer]], the one JSON typing records get at
    * ingest, and parsed from its JSON text by the ingest's own parser
    * expression (as `Sources.local` parses records), evaluated once on the
    * driver into a literal of that type: a key some element lacks is an
    * [[Absentable]] field, mixed values are variants, and [[descend]] reads
    * the constant's fields as it reads a record's. */
  def constant(v: JValue): CE = v match {
    case JNull => CE.present(lit(null), NullType)
    case JBool(b) => CE.present(lit(b), BooleanType)
    case JLong(l) => CE.present(lit(l), LongType)
    case JDouble(d) => CE.present(lit(d), DoubleType)
    case JString(s) => CE.present(lit(s), StringType)
    case _ =>
      val node = jvalueToNode(v)
      val t = infer(Seq(node))
      val parsed = JsonToStructs(t, Map.empty, Literal(jsonMapper.writeValueAsString(node)))
      CE.present(Bridge.column(Literal(Bridge.evalConstant(Bridge.column(parsed)), t)), t)
  }

  /** The JSON tree of a rule value. */
  def jvalueToNode(v: JValue): JsonNode = v match {
    case JNull => JsonNodeFactory.instance.nullNode()
    case JBool(b) => JsonNodeFactory.instance.booleanNode(b)
    case JLong(n) => JsonNodeFactory.instance.numberNode(n)
    case JDouble(n) => JsonNodeFactory.instance.numberNode(n)
    case JString(s) => JsonNodeFactory.instance.textNode(s)
    case JArray(items) =>
      val arr = JsonNodeFactory.instance.arrayNode()
      items.foreach(i => arr.add(jvalueToNode(i)))
      arr
    case JObject(fields) =>
      val o = JsonNodeFactory.instance.objectNode()
      fields.foreach { case (k, fv) => o.set[JsonNode](k, jvalueToNode(fv)) }
      o
  }

  /** Static descent into the context literal; absent → missing. */
  def contextLookup(ctx: JValue, path: Seq[String]): CE = {
    var cur: JValue = ctx
    for (seg <- path) cur match {
      case JObject(fields) =>
        fields.find(_._1 == seg) match {
          case Some((_, v)) => cur = v
          case None => return CE.missing
        }
      case JArray(items) if seg.forall(_.isDigit) =>
        val i = seg.toInt
        if (i < items.size) cur = items(i) else return CE.missing
      case _ => return CE.missing
    }
    constant(cur)
  }

  // ---- object fields that may be absent ----

  /** A struct field cannot hold "absent" apart from JSON null: both would
    * be SQL null. An object field that is absent in some records and may be
    * null (or set) in others is therefore a VariantType field tagged, in its
    * StructField metadata, with the type of its values: SQL null means the
    * field is absent, a variant null is an explicit JSON null, and any other
    * value converts to the tagged type. JSON ingest tags every object field
    * that holds an explicit null (Sources.jsonNode), and a nested mapping
    * target tags a child that can be missing (Engine.nest). Descent unwraps
    * a tagged field to its typed value, so ops see the same types whether or
    * not some record holds a null, and JSON encoding leaves an absent tagged
    * field out of its object. */
  object Absentable {
    private val key = "graft.value_type"

    def field(name: String, valueType: DataType): StructField =
      StructField(name, VariantType, nullable = true, new MetadataBuilder()
        .putString(key, (if (valueType == NullType) VariantType else valueType).json).build())

    def valueType(f: StructField): Option[DataType] =
      if (f.dataType == VariantType && f.metadata.contains(key))
        Some(DataType.fromJson(f.metadata.getString(key)))
      else None

    /** Whether a value of type `t` holds a tagged field at any depth. */
    def within(t: DataType): Boolean = t match {
      case st: StructType => st.fields.exists(f => valueType(f).isDefined || within(f.dataType))
      case ArrayType(et, _) => within(et)
      case _ => false
    }

    /** The raw column of a tagged field that holds `ce`: a missing value
      * leaves the field absent, and a SQL null lifts to JSON null. */
    def wrap(ce: CE): Column = when(!ce.missing, toVariant(ce))
  }

  /** The one JSON typing, of input records (`Sources.jsonNode`) and of
    * rule and context constants ([[constant]]) alike, over the values one
    * position holds across `nodes`: objects merge their keys in first-seen
    * order, and a key that some object lacks or holds as null is an
    * [[Absentable]] field; arrays type their elements together; an integer
    * beyond the long range is a double; values of mixed kinds, all-null
    * and no values are VariantType. A compiled value chosen per record
    * takes its type by the same rule, but for an integer beside a decimal
    * ([[commonType]]). */
  def infer(nodes: Seq[JsonNode]): DataType = {
    val nn = nodes.filter(n => n != null && !n.isNull)
    if (nn.isEmpty) VariantType
    else if (nn.forall(_.isObject)) {
      val names = scala.collection.mutable.LinkedHashSet.empty[String]
      nn.foreach(_.fieldNames.asScala.foreach(names += _))
      StructType(names.toSeq.map { k =>
        val vs = nn.map(_.get(k))
        if (vs.exists(v => v == null || v.isNull)) Absentable.field(k, infer(vs))
        else StructField(k, infer(vs))
      })
    } else if (nn.forall(_.isArray))
      ArrayType(infer(nn.flatMap(_.elements.asScala)))
    else if (nn.forall(_.isTextual)) StringType
    else if (nn.forall(_.isBoolean)) BooleanType
    else if (nn.forall(n => n.isIntegralNumber && n.canConvertToLong)) LongType
    else if (nn.forall(_.isNumber)) DoubleType
    else VariantType
  }

  /** Step into field `f` of an object whose value is `parent`. A tagged
    * field unwraps to its typed value and is missing when absent. A plain
    * field is missing when its parent is; with `nullIsAbsent` (JSON sources,
    * where every field that holds a null is tagged) its SQL null is an
    * absent field too. */
  def field(parent: CE, f: StructField, nullIsAbsent: Boolean = false): CE =
    fieldOf(parent.value.getField(f.name), parent.missing, f, nullIsAbsent)

  def fieldOf(raw: Column, parentMissing: Column, f: StructField, nullIsAbsent: Boolean): CE =
    Absentable.valueType(f) match {
      case Some(VariantType) => CE(raw, parentMissing || raw.isNull, VariantType)
      case Some(t) => CE(try_variant_get(raw, "$", t.sql), parentMissing || raw.isNull, t)
      case None => CE(raw, if (nullIsAbsent) parentMissing || raw.isNull else parentMissing,
        f.dataType)
    }

  // ---- JSON fragments and variants ----

  /** JSON-encode one typed value column to a fragment string. Strings,
    * longs, ints, doubles, booleans and arrays of one of these go through
    * the [[ScalarJson]] kernel, which writes what the wrapper below writes
    * for them; other non-variant types ride the to_json(struct) wrapper with
    * a fixed 1-char key so the envelope offsets are constant (`{"v":X}` ⇒
    * X = substr(6, len-6)); variants serialize natively.
    * ignoreNullFields=false keeps explicit nulls inside structs. Objects
    * that hold [[Absentable]] fields are assembled field by field, leaving
    * the absent ones out. */
  def jsonFragment(c: Column, t: DataType): Column = t match {
    case VariantType => when(c.isNull, lit("null")).otherwise(to_json(c))
    case NullType => lit("null")
    case _ if ScalarJson.supports(t) => ScalarJson.encode(c)
    case st: StructType if Absentable.within(st) =>
      val members = st.fields.toSeq.map { f =>
        val v = c.getField(f.name)
        val member = concat(lit(ScalarJson.quote(f.name) + ":"), jsonFragment(v, f.dataType))
        if (Absentable.valueType(f).isDefined) when(v.isNotNull, member) else member
      }
      when(c.isNull, lit("null"))
        .otherwise(concat(lit("{"), concat_ws(",", members: _*), lit("}")))
    case ArrayType(et, _) if Absentable.within(et) =>
      when(c.isNull, lit("null")).otherwise(
        concat(lit("["), array_join(transform(c, x => jsonFragment(x, et)), ","), lit("]")))
    case _ =>
      val opts = new java.util.HashMap[String, String]()
      opts.put("ignoreNullFields", "false")
      val wrapped = to_json(struct(c.as("v")), opts)
      wrapped.substr(lit(6), length(wrapped) - 6)
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Lift any typed value into a Variant — the engine's representation for
    * heterogeneous JSON values (mixed arrays, values/entries of objects with
    * differently-typed fields). SQL null lifts to JSON null. */
  def toVariant(ce: CE): Column = ce.tpe match {
    case VariantType => coalesce(ce.valueOrNull, parse_json(lit("null")))
    case _ => parse_json(jsonFragment(ce.valueOrNull, ce.tpe))
  }

  // ---- per-record choices ----

  /** The one type of a per-record choice among `ces` — an `if`, a
    * `coalesce`, a mapping `default`, the two sides of a branch, a branch's
    * field over the one already in `@out` — by [[infer]]'s rule for the
    * values one JSON position holds, but for numbers: equal types stay;
    * NullType takes the others' type; integers widen to a long; any other
    * mix, an integer beside a decimal included, is VariantType, each value
    * lifted by [[toVariant]], so each record keeps its own number (a double
    * would write the integer 3 as `3.0`). */
  def commonType(ces: Seq[CE]): DataType = ces.map(_.tpe).filter(_ != NullType).distinct match {
    case Seq() => NullType
    case Seq(t) => t
    case ts if ts.forall(isIntegral) => LongType
    case _ => VariantType
  }

  /** A per-record choice: the first of `cases` whose condition holds,
    * else `otherwise`, in the [[commonType]] of the values it can take
    * (a case whose condition is the literal `false` is dropped), with the
    * missing flag `missing`. A value of that type, or of none, is taken as
    * it is. */
  def choose(cases: Seq[(Column, CE)], otherwise: CE, missing: Column): CE = {
    val live = cases.filterNot { case (c, _) => isStaticFalse(c) }
    val t = commonType(live.map(_._2) :+ otherwise)
    def as(ce: CE): Column =
      if (ce.tpe == t || ce.tpe == NullType) ce.value
      else if (t == VariantType) toVariant(ce) else ce.value.cast(t)
    CE(live.foldRight(as(otherwise)) { case ((c, ce), rest) => when(c, as(ce)).otherwise(rest) },
      missing, t)
  }

  /** Whether `c` is the literal `false`: a missing flag whose value is
    * always there, or a choice's case that never holds. */
  private[rules] def isStaticFalse(c: Column): Boolean = Bridge.isLiteral(c, false)

  // ---- reference-faithful scalar coercions ----

  /** value_to_string semantics (reference transform.rs:5903-5923): numbers
    * print canonically — integral doubles lose the ".0", booleans are
    * true/false. Used by concat, ==, lookup keys, group_by keys. A double
    * beyond the long range (always integral) keeps Spark's exponent form
    * with the mantissa's ".0" dropped: 1e30 prints as "1E30". */
  def rmToString(e: CE): CE = {
    val s = e.tpe match {
      case StringType => e.value
      case LongType | IntegerType | ShortType | ByteType => e.value.cast(StringType)
      case DoubleType | FloatType =>
        val asLong = e.value.try_cast(LongType) // null beyond the long range
        when(e.value.isNull, lit(null).cast(StringType))
          .when(asLong.isNull, regexp_replace(e.value.cast(StringType), lit("\\.0E"), lit("E")))
          .when(e.value === asLong.cast(e.tpe), asLong.cast(StringType))
          .otherwise(e.value.cast(StringType))
      case BooleanType =>
        when(e.value.isNull, lit(null).cast(StringType))
          .when(e.value, "true").otherwise("false")
      case NullType => lit(null).cast(StringType)
      case VariantType =>
        // scalar variants cast to their printed form; variant-null → null
        when(is_variant_null(e.value), lit(null).cast(StringType))
          .otherwise(e.value.cast(StringType))
      case t => throw CompileError(s"to_string: unsupported type $t")
    }
    CE(s, e.missing, StringType)
  }

  /** A present value that is JSON null: SQL null, or a variant holding an
    * explicit JSON null. */
  def isJsonNull(e: CE): Column =
    if (e.tpe == VariantType) e.value.isNull || is_variant_null(e.value)
    else e.value.isNull

  /** value_to_number semantics (transform.rs:5804-5817): numbers pass,
    * numeric strings coerce, any other string raises ExprError (the
    * reference's error-on-non-numeric) — an engine error, not a Spark cast
    * failure, so a `when` / `record_when` catches it per record. */
  def rmToNumber(e: CE): CE = e.tpe match {
    case DoubleType => e
    case LongType | IntegerType | FloatType | ShortType | NullType =>
      CE(e.value.cast(DoubleType), e.missing, DoubleType)
    case StringType =>
      val d = e.value.try_cast(DoubleType)
      CE(when(e.value.isNotNull && d.isNull,
        RmError.raiseCol("ExprError", "", "value is not a number").cast(DoubleType))
        .otherwise(d), e.missing, DoubleType)
    case VariantType => CE(e.value.cast(DoubleType), e.missing, DoubleType)
    case t => throw CompileError(s"numeric op: unsupported type $t")
  }

  // ---- compile ----

  def compile(expr: Expr, env: Env): CE = expr match {
    case ELit(v) => constant(v)
    case ERef(scope, path) => compileRef(scope, path, env)
    case EPipe(start, steps) => compilePipe(start, steps, env)
    case EOp(op, args) => compileOp(op, None, env, args)
    case ECond(c) => compileCond(c, env)
  }

  def compileRef(scope: RefScope, path: Seq[String], env: Env): CE = scope match {
    case RInput => env.input(path)
    case RContext => contextLookup(env.context, path)
    case ROut =>
      env.outWhole match {
        case Some(whole) => descend(whole, path) // wrap scope: @out = output array
        case None => path match {
          case Seq() => throw CompileError("@out without field")
          case Seq(head, rest @ _*) =>
            env.out.get(head) match {
              case Some(ce) => descend(ce, rest)
              case None => CE.missing // forward refs are validator errors; absent = missing
            }
        }
      }
    case RItem =>
      descend(env.item.getOrElse(throw CompileError("@item outside map/filter scope")), path)
    case RItemIndex =>
      CE.present(env.itemIndex.getOrElse(throw CompileError("@item.index outside scope")), LongType)
    case RAcc =>
      descend(env.acc.getOrElse(throw CompileError("@acc outside reduce/fold scope")), path)
    case RPipe =>
      descend(env.pipeValue.getOrElse(throw CompileError("$ outside pipe")), path)
    case RVar(name) =>
      descend(env.vars.getOrElse(name,
        throw CompileError(s"unknown variable @$name")), path)
  }

  /** Structural descent through struct fields / array indexes; absent
    * fields or out-of-range indexes are missing. */
  def descend(base: CE, path: Seq[String], nullIsAbsent: Boolean = false): CE =
    path.foldLeft(base) { (cur, seg) =>
      cur.tpe match {
        case st: StructType =>
          st.fields.find(_.name == seg) match {
            case Some(f) => field(cur, f, nullIsAbsent)
            case None => CE.missing
          }
        case ArrayType(et, _) if seg.forall(_.isDigit) =>
          val idx = seg.toInt
          // get() is null-on-out-of-range (no ANSI error); out-of-range and
          // indexing into null are missing, so fold both into the flag (a
          // null element is a present null)
          CE(get(cur.value, lit(idx)),
            cur.missing || cur.value.isNull || (size(cur.value) <= idx), et)
        case MapType(StringType, vt, _) =>
          // dynamic-keyed objects (group_by/key_by/from_entries results):
          // absent key = missing (getItem is null-safe, no ANSI error)
          CE(cur.value.getItem(seg),
            cur.missing || !map_contains_key(cur.value, seg), vt)
        case VariantType =>
          // variant descent: absent path → SQL null = missing; explicit
          // JSON null stays a (variant-)null value
          val quoted = seg.replace("\\", "\\\\").replace("\"", "\\\"")
          val path = if (seg.forall(_.isDigit)) s"$$[$seg]" else s"""$$["$quoted"]"""
          val v = try_variant_get(cur.value, path, "variant")
          CE(v, cur.missing || v.isNull, VariantType)
        case NullType => CE.missing
        case t => throw CompileError(s"cannot descend '$seg' into type $t")
      }
    }

  /** `onStage(k, value)` sees the pipe's value after its k-th stage (0 =
    * the start) — the sub-Columns the final value is built from. */
  def compilePipe(start: Expr, steps: Seq[PipeStep], env: Env,
      onStage: (Int, CE) => Unit = (_, _) => ()): CE = {
    // a pipe may start AT an op step (mapping-level `- lookup_first: [...]`):
    // then there is no injected pipe value and the first op's args stand alone
    var curOpt: Option[CE] = start match {
      case ERef(RPipe, Seq()) if env.pipeValue.isEmpty => None
      case s => Some(compile(s, env))
    }
    curOpt.foreach(onStage(0, _))
    def cur: CE = curOpt.getOrElse(throw CompileError("pipe has no current value"))
    var e = env
    for ((step, k) <- steps.zipWithIndex) {
      step match {
        case SOp(op, argExprs) =>
          val scoped = curOpt.map(e.withPipe).getOrElse(e)
          curOpt = Some(compileOp(op, curOpt, scoped, argExprs))
        case SLet(bindings) =>
          val scoped = e.withPipe(cur)
          e = bindings.foldLeft(e) { case (envAcc, (name, be)) =>
            envAcc.copy(vars = envAcc.vars + (name -> compile(be, scoped.copy(vars = envAcc.vars))))
          }
        case SIf(cond, thenP, elseP) =>
          val scoped = e.withPipe(cur)
          val c = compileCond(cond, scoped)
          val t = thenP.map(compile(_, scoped)).getOrElse(cur)
          val f = elseP.map(compile(_, scoped)).getOrElse(cur)
          val k = c.value && !c.missing
          curOpt = Some(choose(Seq(k -> t), f, when(k, t.missing).otherwise(f.missing)))
        case SMap(body) =>
          curOpt = Some(mapArray(cur, body, e))
        case SValue(expr) =>
          curOpt = Some(compile(expr, e.withPipe(cur)))
      }
      curOpt.foreach(onStage(k + 1, _))
    }
    cur
  }

  /** `body` compiled for element `x`, at index `i`, of an array of
    * `elemType`: `@item` and `$` are the element. */
  private def perElement(elemType: DataType, env: Env, body: Expr)(x: Column, i: Column): CE = {
    val itemCE = CE.present(x, elemType)
    compile(body, env.copy(item = Some(itemCE), itemIndex = Some(i.cast(LongType)),
      pipeValue = Some(itemCE)))
  }

  /** v2 `map` step / v1 `map` op: per-element sub-pipeline; elements whose
    * result is missing are dropped (reference v2_eval.rs:1038-1041). */
  private[rules] def mapArray(arr: CE, body: Expr, env: Env): CE = {
    val elemType = arr.tpe match {
      case ArrayType(et, _) => et
      case t => throw CompileError(s"map over non-array type $t")
    }
    var resultType: DataType = NullType
    val mapped = transform(arr.value, (x, i) => {
      val r = perElement(elemType, env, body)(x, i)
      resultType = r.tpe
      struct(r.value.as("v"), r.missing.as("m"))
    })
    val kept = transform(
      filter(mapped, r => !r.getField("m")), r => r.getField("v"))
    CE(kept, arr.missing, ArrayType(resultType))
  }

  // ---- conditions (v2 strict regime; v2_eval.rs:1140-1218) ----

  def compileCond(c: Cond, env: Env): CE = {
    def bool(v: Column): CE = CE.present(v, BooleanType)
    c match {
      case CAll(cs) => bool(cs.map(compileCond(_, env)).map(b => coalesce(b.value, lit(false))).reduce(_ && _))
      case CAny(cs) => bool(cs.map(compileCond(_, env)).map(b => coalesce(b.value, lit(false))).reduce(_ || _))
      case CNot(cc) => val b = compileCond(cc, env); bool(!coalesce(b.value, lit(false)))
      case CEq(l, r) => bool(strictEq(compile(l, env), compile(r, env)))
      case CNe(l, r) => bool(!strictEq(compile(l, env), compile(r, env)))
      case CGt(l, r) => bool(orderCmp(compile(l, env), compile(r, env), _ > _))
      case CGte(l, r) => bool(orderCmp(compile(l, env), compile(r, env), _ >= _))
      case CLt(l, r) => bool(orderCmp(compile(l, env), compile(r, env), _ < _))
      case CLte(l, r) => bool(orderCmp(compile(l, env), compile(r, env), _ <= _))
      case CMatch(l, pattern) =>
        val s = compile(l, env)
        bool(!s.missing && s.value.isNotNull && s.value.rlike(pattern))
      case CExpr(e) => bool(holds(compile(e, env)))
    }
  }

  /** v2-condition equality: strict JSON equality, with missing==missing and
    * missing==null both true (v2_eval.rs:1140-1147). A variant compares by
    * each record's own kind ([[byKind]]). */
  private def strictEq(l: CE, r: CE): Column = {
    val lNone = l.missing || isJsonNull(l)
    val rNone = r.missing || isJsonNull(r)
    val (lk, rk) = (byKind(l, r.tpe), byKind(r, l.tpe))
    val bothVals =
      if (lk.tpe == rk.tpe) lk.value === rk.value
      else if (isNum(lk.tpe) && isNum(rk.tpe)) lk.value.cast(DoubleType) === rk.value.cast(DoubleType)
      else lit(false)
    (lNone && rNone) || (!lNone && !rNone && coalesce(bothVals, lit(false)))
  }

  /** v2-condition ordering: numeric-first (numbers or numeric strings),
    * else lexicographic string compare (v2_eval.rs:1150-1179). A variant
    * takes each record's own kind: two strings compare as text, numbers
    * and strings beside a number as numbers, anything else as text. */
  private def orderCmp(l: CE, r: CE, op: (Column, Column) => Column): Column = {
    val ok = !l.missing && !r.missing && l.value.isNotNull && r.value.isNotNull
    val asText = op(rmToString(l).value, rmToString(r).value)
    val cmp =
      if (isNum(l.tpe) && isNum(r.tpe))
        op(l.value.cast(DoubleType), r.value.cast(DoubleType))
      else if (l.tpe == StringType && r.tpe == StringType) op(l.value, r.value)
      else if ((isNum(l.tpe) && r.tpe == StringType) || (l.tpe == StringType && isNum(r.tpe)))
        op(l.value.cast(DoubleType), r.value.cast(DoubleType))
      else if (l.tpe == VariantType || r.tpe == VariantType) {
        def number(e: CE): Column =
          if (e.tpe == VariantType) try_variant_get(e.value, "$", "double") else e.value.try_cast(DoubleType)
        val (lNum, rNum) = (isKind(l, DoubleType), isKind(r, DoubleType))
        val (lStr, rStr) = (isKind(l, StringType), isKind(r, StringType))
        when((lNum && (rNum || rStr)) || (lStr && rNum), op(number(l), number(r))).otherwise(asText)
      } else asText
    // no coalesce around cmp: `ok` already guards the null operands, and a
    // coalesce wrapper would block parquet predicate pushdown of the
    // comparison (observed: only IsNotNull reached PushedFilters)
    ok && cmp
  }

  /** A variant operand `e` of a condition beside an operand of type
    * `other`, read by each record's own JSON kind: as a string, a boolean
    * or a double where it holds one of `other`'s kind, else SQL null (a
    * value of another kind is unequal). Any other operand is taken as it
    * is. */
  private def byKind(e: CE, other: DataType): CE = other match {
    case _ if e.tpe != VariantType => e
    case StringType | BooleanType =>
      CE(when(isKind(e, other), try_variant_get(e.value, "$", other.sql)), e.missing, other)
    case t if isNum(t) => CE(when(isKind(e, t), try_variant_get(e.value, "$", "double")), e.missing, DoubleType)
    case _ => e
  }

  /** Whether `e` holds a value of `t`'s JSON kind — a string, a boolean,
    * or a number for a numeric `t` — in each record: by its type, or, for a
    * variant, by the kind each record's value holds. */
  private def isKind(e: CE, t: DataType): Column =
    if (e.tpe != VariantType) lit(e.tpe == t || (isNum(e.tpe) && isNum(t)))
    else schema_of_variant(e.value).rlike(t match {
      case StringType => "^STRING$"
      case BooleanType => "^BOOLEAN$"
      case _ => "^(TINYINT|SMALLINT|INT|BIGINT|FLOAT|DOUBLE|DECIMAL)"
    })

  /** Whether a predicate's result holds: present and true. */
  private[rules] def holds(r: CE): Column =
    !r.missing && coalesce(r.value.cast(BooleanType), lit(false))

  private def isNum(t: DataType): Boolean = isIntegral(t) || t == DoubleType || t == FloatType

  private def isIntegral(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  // ---- operators ----

  /** One rule op: the names it answers to, what the validator and the
    * `list_ops` tool know of it, and how it compiles.
    *  - `names` are listed by `list_ops`, in this order, under each of the
    *    groups in `lists` (see the companion); `aliases` compile the same
    *    and are not listed.
    *  - `binds`: its lambda argument sees `@item` / `@acc`.
    *  - `bool`: it yields a boolean, so it may stand as a branch `when`.
    *  - `compile` reads the name it was called by from [[Call.op]], so one
    *    entry serves several names. */
  final case class Op(names: Seq[String], lists: Seq[String] = Nil,
      aliases: Seq[String] = Nil, binds: Boolean = false, bool: Boolean = false)(
      val compile: Call => CE) {
    def all: Seq[String] = names ++ aliases
  }

  /** The `list_ops` groups. `expr_ops` lists the ops of the first six. */
  object Op {
    final val Strings = "string_ops"
    final val Other = "expr_ops" // listed in `expr_ops` alone
    final val Json = "json_ops"
    final val Arrays = "array_ops"
    final val Numeric = "numeric_ops"
    final val Dates = "date_ops"
    final val Logical = "logical_ops"
    final val Comparison = "comparison_ops"
    final val Casts = "type_casts"
  }

  /** Every op, each group's in `list_ops` order: the one declaration the
    * compiler, the validator and `list_ops` read. */
  lazy val ops: Seq[Op] = distinctNames(ScalarOps.ops ++ ArrayOps.ops ++ ObjectOps.ops ++ DateOps.ops)

  /** `ops`, failing if two of them declare one name (aliases too). */
  private[rules] def distinctNames(ops: Seq[Op]): Seq[Op] = {
    val repeated = ops.flatMap(_.all).groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    require(repeated.isEmpty,
      s"op table declares ${repeated.toSeq.sorted.mkString(", ")} more than once")
    ops
  }

  private lazy val opByName: Map[String, Op] = ops.flatMap(o => o.all.map(_ -> o)).toMap

  /** The names, aliases too, of the ops that satisfy `p`. */
  def opNames(p: Op => Boolean): Set[String] = ops.filter(p).flatMap(_.all).toSet

  /** The names `list_ops` prints under `group`, in order. */
  def listed(group: String): Seq[String] = ops.filter(_.lists.contains(group)).flatMap(_.names)

  /** One op call as the op's compile function sees it.
    *
    * `pipeArg` is the already-compiled pipe value for v2 op-steps (becomes
    * implicit arg 0); `raw` holds the op's own uncompiled argument exprs.
    * Args are compiled lazily and memoized, so lambda-bodied args
    * (predicates/key exprs using @item/@acc) are never compiled in the
    * enclosing scope — the op re-compiles them per element itself. */
  final class Call(val op: String, pipeArg: Option[CE], val env: Env, val raw: Seq[Expr]) {
    private val offset = if (pipeArg.isDefined) 1 else 0
    val nArgs: Int = raw.size + offset
    private val cache = scala.collection.mutable.Map.empty[Int, CE]
    def rawAt(i: Int): Expr = raw(i - offset)
    /** reference-style error path of op arg i (v1: args index == arg index) */
    def argPathStr(i: Int): String = s"${env.errPath}.args[$i]"
    def arg(i: Int): CE = cache.getOrElseUpdate(i,
      if (i == 0 && pipeArg.isDefined) pipeArg.get
      else compile(rawAt(i), env.copy(errPath = argPathStr(i))))
    def argOpt(i: Int): Option[CE] = if (i < nArgs) Some(arg(i)) else None
    def a0: CE = arg(0)
    def allArgs: Seq[CE] = (0 until nArgs).map(arg)
    def missingAny(n: Int): Column =
      (0 until n).map(arg(_).missing).reduceOption(_ || _).getOrElse(lit(false))

    /** lambda arg (1-based op arg index) recompiled per element of arg 0 */
    def lambda(argIdx: Int): (Column, Column) => CE = perElement(elemTypeOf(a0), env, rawAt(argIdx))

    def elemTypeOf(e: CE): DataType = e.tpe match {
      case ArrayType(et, _) => et
      case t => throw CompileError(s"$op expects array, got $t")
    }

    private def litArg(i: Int): Option[JValue] =
      if (i < nArgs) Some(rawAt(i)).collect { case ELit(v) => v } else None
    def litString(i: Int): Option[String] = litArg(i).collect { case JString(s) => s }
    def litInt(i: Int): Option[Int] = litArg(i).collect { case JLong(l) => l.toInt }

    /** reference object-arg regime (eval_json_object_unary): missing →
      * result missing; static null → ExprError; non-object type →
      * ExprError; runtime null (non-missing) guards with a raised error. */
    def structArg(i: Int): StructType = arg(i).tpe match {
      case st: StructType => st
      case NullType => throw RmError("ExprError", argPathStr(i), "expr arg must not be null")
      case _ => throw RmError("ExprError", argPathStr(i), "expr arg must be object")
    }
    def nullGuard(i: Int, result: Column, t: DataType): Column = {
      val e = arg(i)
      when(!e.missing && e.value.isNull,
        RmError.raiseCol("ExprError", argPathStr(i), "expr arg must not be null").cast(t))
        .otherwise(result)
    }
  }

  /** Compile one operator call through the op table. */
  def compileOp(op: String, pipeArg: Option[CE], env: Env, raw: Seq[Expr]): CE =
    opByName.getOrElse(op, throw CompileError(s"unsupported op: $op"))
      .compile(new Call(op, pipeArg, env, raw))
}
