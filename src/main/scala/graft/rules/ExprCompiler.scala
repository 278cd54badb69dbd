package graft.rules

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{JsonToStructs, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
    * [[RmError.fromThrowable]] recovers. */
  final case class RmError(kind: String, path: String, message: String)
    extends RuntimeException(s"$kind at $path: $message")

  object RmError {
    private val marker = "RMERR|"

    /** Column that raises a parseable engine error when evaluated. */
    def raiseCol(kind: String, path: String, message: String): Column =
      raise_error(lit(s"$marker$kind|$path|$message"))

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
    * and no values are VariantType. */
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

  /** The field `name` of a rebuilt object and its raw column, holding `ce`:
    * tagged when it may be absent, so a missing `ce` leaves it out. */
  private def member(name: String, ce: CE, absentable: Boolean): (StructField, Column) =
    if (absentable) Absentable.field(name, ce.tpe) -> Absentable.wrap(ce)
    else StructField(name, ce.tpe) -> ce.value

  /** Object `(value, type)` of rebuilt members. */
  private def objectOf(members: Seq[(StructField, Column)]): (Column, StructType) =
    struct(members.map { case (f, v) => v.as(f.name) }: _*) -> StructType(members.map(_._1))

  /** `c` where field `f` of object `obj` is present, else SQL null; only a
    * tagged field can be absent. */
  private def ifPresent(obj: Column, f: StructField, c: Column): Column =
    if (Absentable.valueType(f).isDefined) when(obj.getField(f.name).isNotNull, c) else c

  /** The names of the fields of object `obj` (of type `st`) that are
    * present, in `st`'s order: an absent tagged field is not a key. */
  private def presentKeys(obj: Column, st: StructType): Column = {
    val names = array(st.fields.toSeq.map(f => ifPresent(obj, f, lit(f.name))): _*)
    if (st.fields.exists(Absentable.valueType(_).isDefined)) array_compact(names) else names
  }

  // ---- JSON fragments and variants ----

  /** JSON-encode one typed value column to a fragment string. Non-variant
    * types ride the to_json(struct) wrapper with a fixed 1-char key so the
    * envelope offsets are constant (`{"v":X}` ⇒ X = substr(6, len-6));
    * variants serialize natively. ignoreNullFields=false keeps explicit
    * nulls inside structs. Objects that hold [[Absentable]] fields are
    * assembled field by field, leaving the absent ones out. */
  def jsonFragment(c: Column, t: DataType): Column = t match {
    case VariantType => when(c.isNull, lit("null")).otherwise(to_json(c))
    case NullType => lit("null")
    case st: StructType if Absentable.within(st) =>
      val members = st.fields.toSeq.map { f =>
        val v = c.getField(f.name)
        val member = concat(lit(jsonMapper.writeValueAsString(f.name) + ":"),
          jsonFragment(v, f.dataType))
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

  /** A lookup's table over a constant array `from`: a literal map from
    * each element's key string to the projections of the elements with
    * that key, in array order; an element whose key is missing or null is
    * in no entry. Keys and projections are the lookup's own columns,
    * evaluated once on the driver, so a key is spelled by [[rmToString]]
    * exactly as a record's match value is. `project` sets `projT` as it
    * builds, so `projT` is read after `keyed` is. */
  private def lookupTable(from: Column, keyOf: Column => Column,
      project: Column => Column, projT: => DataType): Column = {
    val keyed = transform(from, x => struct(keyOf(x).as("k"), project(x).as("v")))
    val t = projT
    val entries = Bridge.evalConstant(keyed).asInstanceOf[ArrayData]
    val byKey = scala.collection.mutable.LinkedHashMap.empty[UTF8String,
      scala.collection.mutable.ArrayBuffer[Any]]
    for (i <- 0 until entries.numElements()) {
      val e = entries.getStruct(i, 2)
      if (!e.isNullAt(0))
        byKey.getOrElseUpdate(e.getUTF8String(0).clone(),
          scala.collection.mutable.ArrayBuffer.empty) += e.get(1, t)
    }
    val table = new ArrayBasedMapData(new GenericArrayData(byKey.keys.toArray[Any]),
      new GenericArrayData(byKey.values.map(v => new GenericArrayData(v.toArray)).toArray[Any]))
    Bridge.column(Literal(table, MapType(StringType, ArrayType(t), valueContainsNull = false)))
  }

  private def emptyArray(t: DataType): Column =
    Bridge.column(Literal(new GenericArrayData(Array.empty[Any]), ArrayType(t)))

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
          val tpe = if (t.tpe == NullType) f.tpe else t.tpe
          curOpt = Some(CE(
            when(c.value && !c.missing, t.value).otherwise(f.value),
            when(c.value && !c.missing, t.missing).otherwise(f.missing),
            tpe))
        case SMap(body) =>
          curOpt = Some(mapArray(cur, body, e))
        case SValue(expr) =>
          curOpt = Some(compile(expr, e.withPipe(cur)))
      }
      curOpt.foreach(onStage(k + 1, _))
    }
    cur
  }

  /** v2 `map` step / v1 `map` op: per-element sub-pipeline; elements whose
    * result is missing are dropped (reference v2_eval.rs:1038-1041). */
  private def mapArray(arr: CE, body: Expr, env: Env): CE = {
    val elemType = arr.tpe match {
      case ArrayType(et, _) => et
      case t => throw CompileError(s"map over non-array type $t")
    }
    var resultType: DataType = NullType
    val mapped = transform(arr.value, (x, i) => {
      val itemCE = CE.present(x, elemType)
      val scoped = env.copy(item = Some(itemCE), itemIndex = Some(i.cast(LongType)),
        pipeValue = Some(itemCE))
      val r = compile(body, scoped)
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
      case CExpr(e) =>
        val b = compile(e, env)
        bool(!b.missing && coalesce(b.value.cast(BooleanType), lit(false)))
    }
  }

  /** v2-condition equality: strict JSON equality, with missing==missing and
    * missing==null both true (v2_eval.rs:1140-1147). */
  private def strictEq(l: CE, r: CE): Column = {
    val lNone = l.missing || l.value.isNull
    val rNone = r.missing || r.value.isNull
    val bothVals =
      if (l.tpe == r.tpe) l.value === r.value
      else if (isNum(l.tpe) && isNum(r.tpe)) l.value.cast(DoubleType) === r.value.cast(DoubleType)
      else lit(false)
    (lNone && rNone) || (!lNone && !rNone && coalesce(bothVals, lit(false)))
  }

  /** v2-condition ordering: numeric-first (numbers or numeric strings),
    * else lexicographic string compare (v2_eval.rs:1150-1179). */
  private def orderCmp(l: CE, r: CE, op: (Column, Column) => Column): Column = {
    val ok = !l.missing && !r.missing && l.value.isNotNull && r.value.isNotNull
    val cmp =
      if (isNum(l.tpe) && isNum(r.tpe))
        op(l.value.cast(DoubleType), r.value.cast(DoubleType))
      else if (l.tpe == StringType && r.tpe == StringType) op(l.value, r.value)
      else if ((isNum(l.tpe) && r.tpe == StringType) || (l.tpe == StringType && isNum(r.tpe)))
        op(l.value.cast(DoubleType), r.value.cast(DoubleType))
      else op(rmToString(l).value, rmToString(r).value)
    // no coalesce around cmp: `ok` already guards the null operands, and a
    // coalesce wrapper would block parquet predicate pushdown of the
    // comparison (observed: only IsNotNull reached PushedFilters)
    ok && cmp
  }

  private def isNum(t: DataType): Boolean = t match {
    case LongType | IntegerType | DoubleType | FloatType | ShortType | ByteType => true
    case _ => false
  }

  // ---- operators ----

  /** Compile one operator call.
    *
    * `pipeArg` is the already-compiled pipe value for v2 op-steps (becomes
    * implicit arg 0); `raw` holds the op's own uncompiled argument exprs.
    * Args are compiled lazily and memoized, so lambda-bodied args
    * (predicates/key exprs using @item/@acc) are never compiled in the
    * enclosing scope — the op re-compiles them per element itself. */
  def compileOp(op: String, pipeArg: Option[CE], env: Env, raw: Seq[Expr]): CE = {
    val offset = if (pipeArg.isDefined) 1 else 0
    val nArgs = raw.size + offset
    val cache = scala.collection.mutable.Map.empty[Int, CE]
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

    /** lambda arg (1-based op arg index) recompiled per element */
    def lambda(argIdx: Int, elemType: DataType): (Column, Column) => CE = {
      val body = rawAt(argIdx)
      (x, i) => {
        val itemCE = CE.present(x, elemType)
        compile(body, env.copy(item = Some(itemCE), itemIndex = Some(i.cast(LongType)),
          pipeValue = Some(itemCE)))
      }
    }

    def elemTypeOf(e: CE): DataType = e.tpe match {
      case ArrayType(et, _) => et
      case t => throw CompileError(s"$op expects array, got $t")
    }

    def litString(argIdx: Int): Option[String] =
      if (argIdx < nArgs) rawAt(argIdx) match {
        case ELit(JString(s)) => Some(s)
        case _ => None
      } else None

    def litInt(argIdx: Int): Option[Int] =
      if (argIdx < nArgs) rawAt(argIdx) match {
        case ELit(JLong(l)) => Some(l.toInt)
        case _ => None
      } else None

    /** reference object-arg regime (eval_json_object_unary): missing →
      * result missing; static null → ExprError; non-object type →
      * ExprError; runtime null (non-missing) guards with a raised error. */
    def structArg(i: Int): StructType = {
      val e = arg(i)
      e.tpe match {
        case st: StructType => st
        case NullType =>
          throw RmError("ExprError", argPathStr(i), "expr arg must not be null")
        case _ =>
          throw RmError("ExprError", argPathStr(i), "expr arg must be object")
      }
    }
    def nullGuard(i: Int, result: Column, t: DataType): Column = {
      val e = arg(i)
      when(!e.missing && e.value.isNull,
        RmError.raiseCol("ExprError", argPathStr(i), "expr arg must not be null").cast(t))
        .otherwise(result)
    }

    op match {
      // -- strings
      case "concat" =>
        val parts = allArgs.map(rmToString)
        CE(concat(parts.map(_.value): _*), missingAny(nArgs), StringType)
      case "to_string" => rmToString(a0)
      case "trim" => CE(trim(rmToString(a0).value), a0.missing, StringType)
      case "lowercase" => CE(lower(rmToString(a0).value), a0.missing, StringType)
      case "uppercase" => CE(upper(rmToString(a0).value), a0.missing, StringType)
      case "replace" =>
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
      case "split" =>
        val delim = litString(1).getOrElse(",")
        CE(split(rmToString(a0).value, java.util.regex.Pattern.quote(delim), -1),
          a0.missing, ArrayType(StringType))
      case "pad_start" | "pad_end" =>
        // pad to target char length; never truncate the original
        val s = rmToString(a0)
        val len = arg(1).value.cast(IntegerType)
        val padStr = argOpt(2).map(_.value).getOrElse(lit(" "))
        val fname = if (op == "pad_start") "lpad" else "rpad"
        CE(call_function(fname, s.value, greatest(len, length(s.value)), padStr),
          a0.missing || arg(1).missing, StringType)

      // -- numbers
      case "add" | "+" =>
        CE(allArgs.map(rmToNumber(_).value).reduce(_ + _), missingAny(nArgs), DoubleType)
      case "subtract" | "-" =>
        CE(rmToNumber(a0).value - rmToNumber(arg(1)).value, missingAny(2), DoubleType)
      case "multiply" | "*" =>
        CE(allArgs.map(rmToNumber(_).value).reduce(_ * _), missingAny(nArgs), DoubleType)
      case "divide" | "/" =>
        CE(rmToNumber(a0).value / rmToNumber(arg(1)).value, missingAny(2), DoubleType)
      case "round" =>
        CE(round(rmToNumber(a0).value, litInt(1).getOrElse(0)), a0.missing, DoubleType)
      case "to_base" =>
        val base = litInt(1).getOrElse(throw CompileError("to_base needs literal base"))
        CE(lower(conv(rmToNumber(a0).value.cast(LongType).cast(StringType), 10, base)),
          a0.missing, StringType)

      // -- booleans / comparisons (v1 op regime: string-coerced ==)
      case "and" | "or" =>
        // missing operands skipped; short-circuit wins; missing seen with no
        // short-circuit ⇒ missing (transform.rs:5340-5388)
        val bools = allArgs.map(e => (e.value.cast(BooleanType), e.missing))
        val anyMissing = missingAny(nArgs)
        val folded =
          if (op == "and") bools.map { case (v, m) => when(m, lit(true)).otherwise(v) }.reduce(_ && _)
          else bools.map { case (v, m) => when(m, lit(false)).otherwise(v) }.reduce(_ || _)
        val missingOut = if (op == "and") anyMissing && folded else anyMissing && !folded
        CE(folded, missingOut, BooleanType)
      case "not" =>
        CE(!a0.value.cast(BooleanType), a0.missing, BooleanType)
      case "==" | "!=" =>
        // v1 equality: string-coerced both sides; null==null true; a missing
        // operand compares like null (t10 user_missing) — the result is
        // never missing (compare_eq, transform.rs:5480-5493)
        val l = rmToString(a0); val r = rmToString(arg(1))
        val lNone = a0.missing || l.value.isNull
        val rNone = arg(1).missing || r.value.isNull
        val eqv = (lNone && rNone) ||
          (!lNone && !rNone && coalesce(l.value === r.value, lit(false)))
        CE(if (op == "==") eqv else !eqv, lit(false), BooleanType)
      case "<" | "<=" | ">" | ">=" =>
        val l = rmToNumber(a0).value; val r = rmToNumber(arg(1)).value
        val v = op match {
          case "<" => l < r; case "<=" => l <= r; case ">" => l > r; case _ => l >= r
        }
        CE(v, missingAny(2), BooleanType)
      case "~=" =>
        CE(a0.value.rlike(litString(1)
          .getOrElse(throw CompileError("~= needs literal pattern"))), a0.missing, BooleanType)

      // -- casts (strict; transform.rs:5939-5994): int rejects non-integral
      // floats, float rejects non-finite, bool accepts only true/false
      case "string" | "int" | "float" | "bool" =>
        strictCast(a0, op, if (env.errPath.isEmpty) "expr" else env.errPath)

      // -- coalesce: first non-null, missing skipped (transform.rs:1434-1458)
      case "coalesce" =>
        val args = allArgs
        val tpe = args.map(_.tpe).find(_ != NullType).getOrElse(NullType)
        val v = args.foldRight(lit(null).cast(tpe)) { (e, rest) =>
          when(!e.missing && !isJsonNull(e), e.value.cast(tpe)).otherwise(rest)
        }
        CE(v, lit(false), tpe)

      // -- object access
      case "get" =>
        val path = litString(1).map(PathParser.parse)
          .getOrElse(throw CompileError("get needs literal path"))
        descend(a0, path)

      // -- arrays
      case "len" if a0 eq CE.missing => CE.missing
      case "len" =>
        val v = a0.tpe match {
          case StringType => length(a0.value)
          case ArrayType(_, _) => size(a0.value)
          case st: StructType => size(presentKeys(a0.value, st))
          case t => throw CompileError(s"len of $t")
        }
        CE(v.cast(LongType), a0.missing, LongType)
      case "map" => mapArray(a0, rawAt(1), env)
      case "filter" =>
        val et = elemTypeOf(a0)
        val lam = lambda(1, et)
        CE(filter(a0.value, (x, i) => {
          val r = lam(x, i)
          !r.missing && coalesce(r.value.cast(BooleanType), lit(false))
        }), a0.missing, a0.tpe)
      case "flat_map" =>
        val mapped = mapArray(a0, rawAt(1), env)
        CE(flatten(mapped.value), mapped.missing,
          mapped.tpe.asInstanceOf[ArrayType].elementType match {
            case ArrayType(et, _) => ArrayType(et)
            case t => ArrayType(t)
          })
      case "flatten" =>
        val depth = litInt(1).getOrElse(1)
        var v = a0.value; var t = a0.tpe
        for (_ <- 0 until depth) t match {
          case ArrayType(inner @ ArrayType(_, _), _) => v = flatten(v); t = inner
          case ArrayType(VariantType, _) =>
            // heterogeneous level: splice elements that ARE arrays, keep
            // scalars (reference flatten over mixed JSON arrays)
            v = flatten(transform(v, e => coalesce(
              when(schema_of_variant(e).startsWith("ARRAY"), e.cast(ArrayType(VariantType))),
              array(e))))
          case _ => ()
        }
        CE(v, a0.missing, t)
      case "take" | "drop" =>
        val n = arg(1).value.cast(LongType)
        val sz = size(a0.value).cast(LongType)
        val nn = greatest(least(n, sz), lit(0L) - sz) // clamp to [-size, size]
        val v = op match {
          case "take" =>
            when(n >= 0, slice(a0.value, lit(1), nn.cast(IntegerType)))
              .otherwise(slice(a0.value, (sz + nn + 1).cast(IntegerType),
                (lit(0L) - nn).cast(IntegerType)))
          case _ =>
            when(n >= 0, slice(a0.value, (nn + 1).cast(IntegerType), (sz - nn).cast(IntegerType)))
              .otherwise(slice(a0.value, lit(1), (sz + nn).cast(IntegerType)))
        }
        CE(v, missingAny(2), a0.tpe)
      case "slice" =>
        val sz = size(a0.value).cast(LongType)
        val startRaw = arg(1).value.cast(LongType)
        val endRaw = argOpt(2).map(_.value.cast(LongType)).getOrElse(sz)
        val start = when(startRaw < 0, greatest(sz + startRaw, lit(0L))).otherwise(least(startRaw, sz))
        val end = when(endRaw < 0, greatest(sz + endRaw, lit(0L))).otherwise(least(endRaw, sz))
        val count = greatest(end - start, lit(0L))
        CE(slice(a0.value, (start + 1).cast(IntegerType), count.cast(IntegerType)),
          missingAny(nArgs), a0.tpe)
      case "chunk" =>
        val et = elemTypeOf(a0)
        val n = litInt(1).getOrElse(throw CompileError("chunk needs literal size"))
        if (n < 1) throw CompileError("chunk size must be >= 1")
        val nChunks = ceil(size(a0.value).cast(DoubleType) / n).cast(IntegerType)
        val v = transform(sequence(lit(0), greatest(nChunks - 1, lit(0))),
          i => slice(a0.value, i * n + 1, lit(n)))
        CE(when(size(a0.value) === 0, array().cast(ArrayType(a0.tpe)))
          .otherwise(v), a0.missing, ArrayType(a0.tpe))
      case "first" | "last" =>
        val et = elemTypeOf(a0)
        CE(element_at(a0.value, if (op == "first") 1 else -1),
          a0.missing || size(a0.value) === 0, et)
      case "find" | "find_index" =>
        val et = elemTypeOf(a0)
        val lam = lambda(1, et)
        if (op == "find") {
          val matches = filter(a0.value, (x, i) => {
            val r = lam(x, i); !r.missing && coalesce(r.value.cast(BooleanType), lit(false))
          })
          CE(element_at(matches, 1), a0.missing || size(matches) === 0, et)
        } else {
          val decorated = transform(a0.value, (x, i) => struct(x.as("x"), i.as("i")))
          val idxs = filter(decorated, p => {
            val r = lam(p.getField("x"), p.getField("i"))
            !r.missing && coalesce(r.value.cast(BooleanType), lit(false))
          })
          CE(element_at(idxs, 1).getField("i").cast(LongType),
            a0.missing || size(idxs) === 0, LongType)
        }
      case "contains" | "index_of" =>
        // by string-coerced equality (transform.rs:4047-4115)
        val et = elemTypeOf(a0)
        val needle = rmToString(arg(1))
        val strArr = transform(a0.value, x => rmToString(CE.present(x, et)).value)
        if (op == "contains")
          CE(coalesce(array_contains(strArr, needle.value), lit(false)), missingAny(2), BooleanType)
        else
          CE(coalesce(array_position(strArr, needle.value).cast(LongType) - 1, lit(-1L)),
            missingAny(2), LongType)
      case "unique" =>
        CE(array_distinct(a0.value), a0.missing, a0.tpe)
      case "partition" =>
        // [matched, unmatched] by predicate; null/missing predicate = false
        // ⇒ element lands in unmatched (transform.rs:3745-3789)
        val et = elemTypeOf(a0)
        val lam = lambda(1, et)
        def pred(x: Column, i: Column): Column = {
          val r = lam(x, i); !r.missing && coalesce(r.value.cast(BooleanType), lit(false))
        }
        CE(array(filter(a0.value, (x, i) => pred(x, i)),
          filter(a0.value, (x, i) => !pred(x, i))),
          a0.missing, ArrayType(a0.tpe))
      case "unzip" =>
        // array of n-tuples (arrays) → n column arrays; width from the
        // first tuple (transform.rs:3600-3660)
        val innerT = elemTypeOf(a0) match {
          case ArrayType(t, _) => t
          case t => throw CompileError(s"unzip needs array of arrays, got $t")
        }
        val width = size(element_at(a0.value, 1))
        CE(transform(sequence(lit(0), greatest(width - 1, lit(0))),
          i => transform(a0.value, x => get(x, i))),
          a0.missing || size(a0.value) === 0, ArrayType(ArrayType(innerT)))
      case "sum" | "avg" | "min" | "max" =>
        val et = elemTypeOf(a0)
        val nums = transform(a0.value, x => rmToNumber(CE.present(x, et)).value)
        val sz = size(a0.value)
        val v = op match {
          case "sum" => aggregate(nums, lit(0.0), (acc, x) => acc + x)
          case "avg" => aggregate(nums, lit(0.0), (acc, x) => acc + x) / sz
          case "min" => array_min(nums)
          case "max" => array_max(nums)
        }
        CE(when(sz === 0, lit(null).cast(DoubleType)).otherwise(v), a0.missing, DoubleType)
      case "reduce" | "fold" =>
        val et = elemTypeOf(a0)
        val bodyIdx = if (op == "fold") 2 else 1
        val body = rawAt(bodyIdx)
        def step(acc: CE, x: Column): CE = compile(body, env.copy(
          acc = Some(acc), item = Some(CE.present(x, et)), pipeValue = Some(CE.present(x, et))))
        // reduce seeds with the first element; its accumulator keeps the
        // element type when the body yields that type, and a body that
        // yields a number makes it the f64 of the arithmetic ops, the seed
        // coerced as they coerce it (numeric strings of a split CSV cell)
        def reduceType: DataType = {
          val bodyT = step(CE.present(lit(null).cast(et), et), lit(null).cast(et)).tpe
          if (bodyT == et || bodyT == NullType) et
          else if (bodyT.isInstanceOf[NumericType]) DoubleType
          else throw CompileError(s"reduce over $et yields $bodyT")
        }
        val (init, rest, initT) =
          if (op == "fold") (arg(1).value, a0.value, arg(1).tpe)
          else {
            val t = reduceType
            val first = CE.present(element_at(a0.value, 1), et)
            (if (t == et) first.value else rmToNumber(first).value,
              slice(a0.value, lit(2), greatest(size(a0.value) - 1, lit(0))), t)
          }
        val v = aggregate(rest, init, (acc, x) => step(CE.present(acc, initT), x).value.cast(initT))
        CE(when(size(a0.value) === 0, lit(null).cast(initT)).otherwise(v),
          a0.missing, initT)
      case "sort_by" =>
        val et = elemTypeOf(a0)
        val lam = lambda(1, et)
        val desc = raw.exists { case ELit(JString("desc")) => true; case _ => false }
        // decorate-sort-undecorate: stable via original index tiebreak
        val decorated = transform(a0.value, (x, i) => {
          val k = lam(x, i)
          struct(k.value.as("k"), i.as("i"), x.as("x"))
        })
        val sorted = array_sort(decorated, (l, r) => {
          val lk = l.getField("k"); val rk = r.getField("k")
          val tie = when(l.getField("i") < r.getField("i"), -1)
            .when(l.getField("i") > r.getField("i"), 1).otherwise(0)
          if (desc) when(lk < rk, 1).when(lk > rk, -1).otherwise(tie)
          else when(lk < rk, -1).when(lk > rk, 1).otherwise(tie)
        })
        CE(transform(sorted, s => s.getField("x")), a0.missing, a0.tpe)
      case "zip" =>
        // shortest-length PAIR ARRAYS (reference zip → [[a, b], ...]);
        // same-typed sides stay typed, mixed types become variant pairs
        val (et1, et2) = (elemTypeOf(a0), elemTypeOf(arg(1)))
        val v =
          if (et1 == et2)
            zip_with(a0.value, arg(1).value, (x, y) => array(x, y))
          else
            zip_with(a0.value, arg(1).value, (x, y) =>
              array(toVariant(CE.present(x, et1)), toVariant(CE.present(y, et2))))
        val pt = if (et1 == et2) et1 else VariantType
        val minLen = least(size(a0.value), size(arg(1).value))
        CE(slice(v, lit(1), minLen), missingAny(2), ArrayType(ArrayType(pt)))
      case "zip_with" =>
        val et1 = elemTypeOf(a0)
        val et2 = elemTypeOf(arg(1))
        val body = rawAt(2)
        var resT: DataType = NullType
        val v = zip_with(a0.value, arg(1).value, (x, y) => {
          // @item.value[0]/[1] — model the pair as a 2-element array;
          // mixed-typed sides pair as variants (array() would coerce)
          val pair =
            if (et1 == et2) CE.present(array(x, y), ArrayType(et1))
            else CE.present(
              array(toVariant(CE.present(x, et1)), toVariant(CE.present(y, et2))),
              ArrayType(VariantType))
          val r = compile(body, env.copy(item = Some(pair), pipeValue = Some(pair)))
          resT = r.tpe
          r.value
        })
        val minLen = least(size(a0.value), size(arg(1).value))
        CE(slice(v, lit(1), minLen), missingAny(2), ArrayType(resT))

      case "lookup" | "lookup_all" | "lookup_first" =>
        // arg forms: explicit [from, key, value, get?] or v2 implicit
        // pipe-value from (docs/rules_spec_en.md:402-424)
        val from = a0
        val keyPath = litString(1).map(PathParser.parse)
          .getOrElse(throw CompileError("lookup key must be a literal path"))
        val matchVal = rmToString(arg(2))
        val outPath = litString(3).map(PathParser.parse)
        val et = elemTypeOf(from)
        // an element's key string (null where its key is missing) and its
        // projection; projT is set when a projection is built
        def keyOf(x: Column): Column = {
          val k = rmToString(descend(CE.present(x, et), keyPath))
          when(!k.missing, k.value)
        }
        var projT: DataType = et
        def project(x: Column): Column = outPath match {
          case Some(p) =>
            val r = descend(CE.present(x, et), p)
            projT = r.tpe
            r.valueOrNull
          case None => x
        }
        // the first match, all matches, and whether there is none
        val (first, all, none) =
          if (Bridge.isConstant(from.value) && Bridge.isConstant(from.missing)) {
            // `from` is the same for every record (the @context literal or
            // a literal array): its matches per key are one plan-time table
            val hits = element_at(lookupTable(from.value, keyOf, project, projT), matchVal.value)
            (element_at(hits, 1), coalesce(hits, emptyArray(projT)), hits.isNull)
          } else {
            val matches = filter(from.value, x => coalesce(keyOf(x) === matchVal.value, lit(false)))
            val arr = if (outPath.isDefined) transform(matches, x => project(x)) else matches
            (element_at(arr, 1), arr, size(arr) === 0)
          }
        val miss = from.missing || matchVal.missing
        if (op == "lookup_first") CE(first, miss || none, projT)
        else if (op == "lookup_all") // v2: no matches = EMPTY ARRAY (tv25)
          CE(all, miss, ArrayType(projT))
        else // v1 lookup: no matches = missing (t06, transform.rs results.is_empty)
          CE(all, miss || none, ArrayType(projT))

      // -- dates (chrono patterns translated at plan time; DateOps)
      case "date_format" =>
        // [value, out_fmt, in_fmt|tz?, tz?] — arg 2 is a timezone when it
        // "looks like" one (transform.rs:5674-5679), else input format(s);
        // the tz is a fixed offset the result is converted into
        val outFmtRaw = litString(1)
          .getOrElse(throw CompileError("date_format needs literal format"))
        val (inFmts, tz2) = litString(2) match {
          case Some(s) if DateOps.looksLikeTimezone(s) => (Nil, Some(s))
          case Some(s) => (Seq(s), None)
          case None => (Nil, None)
        }
        val offset = litString(3).orElse(tz2).map(DateOps.normalizeOffset)
        val ts0 = DateOps.parseCascade(rmToString(a0).value, inFmts)
        val ts = offset.map(o => from_utc_timestamp(ts0, o)).getOrElse(ts0)
        // with a fixed offset the zone tokens are compile-time constants:
        // substitute them as literals (the shifted timestamp would
        // otherwise print the session offset)
        val outFmt = DateOps.chronoToJava(offset match {
          case Some(o) => outFmtRaw.replace("%:z", o).replace("%z", o.replace(":", ""))
          case None => outFmtRaw
        })
        CE(date_format(ts, outFmt), a0.missing, StringType)
      case "to_unixtime" =>
        // [value, unit|tz?, tz?] — with three args the middle one MUST be a
        // unit; with two it may be a unit or a timezone offset the naive
        // input is interpreted in (eval_to_unixtime, transform.rs:2653-2734)
        val nArgs = allArgs.size
        val (unit, tz1) = litString(1) match {
          case Some(u @ ("s" | "ms")) => (u, None)
          case Some(s) if nArgs == 2 && DateOps.looksLikeTimezone(s) => ("s", Some(s))
          case Some(_) => throw RmError("ExprError", argPathStr(1), "unit must be s or ms")
          case None => ("s", None)
        }
        val offset = litString(2).orElse(tz1).map(DateOps.normalizeOffset)
        val ts0 = DateOps.parseCascade(rmToString(a0).value, Nil)
        // naive wall-clock read in the offset zone → UTC instant; the
        // reference leaves tz-carrying inputs on their own offset, which
        // rules express by omitting the tz arg
        val ts = offset.map(o => to_utc_timestamp(ts0, o)).getOrElse(ts0)
        val v = unit match {
          case "ms" => unix_millis(ts)
          case _ => unix_timestamp(ts)
        }
        CE(v, a0.missing, LongType)

      // -- objects (static struct shapes — reference merge/pick/omit etc.,
      // transform.rs:4360-4963). Structs carry their schema at plan time, so
      // these are compile-time re-projections; heterogeneous results
      // (mixed-typed values, per-record path sets, index-modified arrays)
      // fall back to Variant values, which the JSON sink serializes natively.
      case "merge" | "deep_merge" =>
        // missing args skipped; null → ExprError; all-missing → missing
        // (eval_json_merge, transform.rs:4360-4420)
        val deep = op == "deep_merge"
        val indexed = allArgs.zipWithIndex
        indexed.foreach { case (e, i) =>
          if (!(e eq CE.missing) && e.tpe == NullType)
            throw RmError("ExprError", argPathStr(i), "expr arg must not be null")
        }
        val objs = indexed.filter { case (e, _) => !(e eq CE.missing) }
        objs.foreach { case (e, i) =>
          if (!e.tpe.isInstanceOf[StructType])
            throw RmError("ExprError", argPathStr(i), "expr arg must be object")
        }
        if (objs.isEmpty) CE.missing
        else {
          val merged = objs.map(_._1).reduceLeft((l, r) => mergeStructs(l, r, deep))
          val guarded = objs.foldLeft(merged.value) { case (v, (_, i)) =>
            nullGuard(i, v, merged.tpe)
          }
          CE(guarded, merged.missing, merged.tpe)
        }
      case "pick" | "omit" =>
        if (a0 eq CE.missing) CE.missing
        else {
          structArg(0)
          // literal path args (strings / arrays of strings) compile to a
          // static re-projection; anything else is a per-record path set
          val litPaths: Option[Seq[(String, Int)]] = {
            val collected = (1 until nArgs).map { i =>
              rawAt(i) match {
                case ELit(JString(p)) => Some(Seq(p -> i))
                case ELit(JArray(items)) =>
                  val ss = items.collect { case JString(p) => p }
                  if (ss.size == items.size) Some(ss.map(_ -> i)) else None
                case _ => None
              }
            }
            if (collected.forall(_.isDefined)) Some(collected.flatten.flatten.toSeq)
            else None
          }
          litPaths match {
            case Some(ps) if ps.nonEmpty =>
              val parsed: Seq[Seq[PathParser.PToken]] = ps.map { case (p, i) =>
                val toks =
                  try PathParser.parseTokens(p)
                  catch {
                    case e: PathParser.PathError =>
                      throw RmError("ExprError", argPathStr(i), e.getMessage)
                  }
                if (toks.isEmpty)
                  throw RmError("ExprError", argPathStr(i), "path is empty")
                toks
              }
              val res =
                if (op == "pick") staticPick(a0, parsed, argPathStr(1))
                else staticOmit(a0, parsed, argPathStr(1))
              CE(nullGuard(0, res.value, res.tpe), a0.missing, res.tpe)
            case _ =>
              val pe = arg(1)
              val pathsCol = pe.tpe match {
                case ArrayType(StringType, _) => pe.value
                case ArrayType(VariantType, _) =>
                  transform(pe.value, v => v.cast(StringType))
                case VariantType => pe.value.cast(ArrayType(StringType))
                case t => throw CompileError(s"$op paths must be an array of strings, got $t")
              }
              val res = dynPickOmit(a0, pathsCol, op == "pick")
              CE(nullGuard(0, res.value, res.tpe), a0.missing || pe.missing, res.tpe)
          }
        }
      // keys/values/entries enumerate object keys ALPHABETICALLY — the
      // reference's serde_json maps are BTreeMaps (no preserve_order)
      case "keys" =>
        if (a0 eq CE.missing) CE.missing
        else a0.tpe match {
          case MapType(_, _, _) =>
            CE(sort_array(map_keys(a0.value)), a0.missing, ArrayType(StringType))
          case _ =>
            val st = structArg(0)
            CE(nullGuard(0, presentKeys(a0.value, StructType(st.fields.sortBy(_.name))),
              ArrayType(StringType)), a0.missing, ArrayType(StringType))
        }
      case "values" =>
        if (a0 eq CE.missing) CE.missing
        else a0.tpe match {
          case MapType(_, vt, _) =>
            CE(transform(sort_array(map_keys(a0.value)), k => a0.value.getItem(k)),
              a0.missing, ArrayType(vt))
          case _ =>
            val st = structArg(0)
            val sorted = st.fields.toSeq.sortBy(_.name)
            val ts = st.fields.map(_.dataType).distinct.toSeq
            val (arrCol, et) =
              if (ts.size <= 1 && ts.headOption.forall(_ != VariantType))
                (array(sorted.map(f => a0.value.getField(f.name)): _*),
                  ts.headOption.getOrElse(StringType))
              else // mixed-typed fields → heterogeneous JSON array (variants)
                (array_compact(array(sorted.map(f =>
                  ifPresent(a0.value, f, toVariant(field(CE.present(a0.value, st), f)))): _*)),
                  VariantType)
            CE(nullGuard(0, arrCol, ArrayType(et)), a0.missing, ArrayType(et))
        }
      case "entries" =>
        if (a0 eq CE.missing) CE.missing
        else a0.tpe match {
          case MapType(kt, vt, _) =>
            CE(transform(sort_array(map_keys(a0.value)),
              k => struct(k.as("key"), a0.value.getItem(k).as("value"))),
              a0.missing, ArrayType(StructType(Seq(
                StructField("key", kt), StructField("value", vt)))))
          case _ =>
            val st = structArg(0)
            val sorted = st.fields.toSeq.sortBy(_.name)
            val ts = st.fields.map(_.dataType).distinct.toSeq
            val vt = if (ts.size <= 1 && ts.headOption.forall(_ != VariantType))
              ts.headOption.getOrElse(StringType) else VariantType
            val entriesCol = array_compact(array(sorted.map { f =>
              val v = if (vt == VariantType) toVariant(field(CE.present(a0.value, st), f))
                else a0.value.getField(f.name)
              ifPresent(a0.value, f, struct(lit(f.name).as("key"), v.as("value")))
            }: _*))
            val et = StructType(Seq(StructField("key", StringType), StructField("value", vt)))
            CE(nullGuard(0, entriesCol, ArrayType(et)), a0.missing, ArrayType(et))
        }
      case "from_entries" =>
        // forms: (pairs-array) | (entries-array) | (object → clone) |
        // (key, value → single-pair object); duplicate keys: LAST wins
        // (reference from_entries insertion semantics)
        if (nArgs == 2) {
          val k = rmToString(a0)
          val v = arg(1)
          CE(map(k.value, v.valueOrNull), missingAny(2),
            MapType(StringType, if (v.tpe == NullType) StringType else v.tpe))
        } else if (a0 eq CE.missing) CE.missing
        else a0.tpe match {
          case _: StructType => a0 // object → clone
          case m: MapType => a0
          case ArrayType(st: StructType, _)
              if st.fieldNames.contains("key") && st.fieldNames.contains("value") =>
            lastWinMap(a0, e => rmToString(CE.present(e.getField("key"), st("key").dataType)).value,
              e => e.getField("value"), st("value").dataType)
          case ArrayType(ArrayType(et, _), _) =>
            val badPair = RmError.raiseCol("ExprError", s"${argPathStr(0)}[0]",
              "expr arg must be an entry pair")
            lastWinMap(a0,
              p => when(size(p) =!= 2, badPair.cast(StringType))
                .otherwise(rmToString(CE.present(element_at(p, 1), et)).value),
              p => when(size(p) === 2, element_at(p, 2)), et)
          case ArrayType(VariantType, _) =>
            // variant elements must each be a [k, v] pair array; a direct
            // cast throws under ANSI, so gate on the variant's own schema
            val badPair = RmError.raiseCol("ExprError", s"${argPathStr(0)}[0]",
              "expr arg must be an entry pair")
            def pairArr(e: Column): Column =
              when(schema_of_variant(e).startsWith("ARRAY"), e.cast(ArrayType(VariantType)))
            lastWinMap(a0,
              e => when(pairArr(e).isNull, badPair.cast(StringType))
                .otherwise(rmToString(CE.present(element_at(pairArr(e), 1), VariantType)).value),
              e => element_at(pairArr(e), 2), VariantType)
          case ArrayType(_, _) =>
            throw RmError("ExprError", s"${argPathStr(0)}[0]", "expr arg must be an entry pair")
          case NullType =>
            throw RmError("ExprError", argPathStr(0), "expr arg must not be null")
          case t => throw CompileError(s"from_entries of $t")
        }
      case "object_flatten" =>
        // flatten_object (transform.rs:4832-4855, :5077-5116): nested keys
        // join with dots (bracket-quoted iff the key contains a dot); empty
        // objects flatten to themselves; arrays are leaves
        if (a0 eq CE.missing) CE.missing
        else a0.tpe match {
          case st: StructType =>
            // a leaf under a tagged field stays tagged: absent with it
            def walk(cur: CE, t: StructType, prefix: Vector[PathParser.PToken],
                absentable: Boolean): Seq[(StructField, Column)] =
              t.fields.toSeq.flatMap { f =>
                if (f.name.isEmpty)
                  throw RmError("ExprError", argPathStr(0),
                    "object_flatten does not support empty keys")
                if (f.name.contains('[') || f.name.contains(']'))
                  throw RmError("ExprError", argPathStr(0),
                    "object_flatten does not support keys with '[' or ']'")
                val toks = prefix :+ PathParser.PKey(f.name)
                val v = field(cur, f)
                val abs = absentable || Absentable.valueType(f).isDefined
                v.tpe match {
                  case cst: StructType if cst.fields.nonEmpty => walk(v, cst, toks, abs)
                  case _ => Seq(member(PathParser.formatTokens(toks), v, abs))
                }
              }
            val (resV, resT) = objectOf(walk(a0, st, Vector(), absentable = false))
            CE(nullGuard(0, resV, resT), a0.missing, resT)
          case NullType =>
            throw RmError("ExprError", argPathStr(0), "expr arg must not be null")
          case _ =>
            throw RmError("ExprError", argPathStr(0), "expr arg must be object")
        }
      case "object_unflatten" =>
        // eval_json_object_unflatten (transform.rs:4857-4912): parse each
        // flat key as a dot-path (no indexes), reject prefix conflicts,
        // rebuild the nested object in first-seen order
        if (a0 eq CE.missing) CE.missing
        else a0.tpe match {
          case st: StructType =>
            val parsed: Seq[(Seq[String], StructField)] = st.fields.toSeq.map { f =>
              val toks =
                try PathParser.parseTokens(f.name)
                catch {
                  case e: PathParser.PathError =>
                    throw RmError("ExprError", argPathStr(0), e.getMessage)
                }
              if (toks.isEmpty)
                throw RmError("ExprError", argPathStr(0), "path is empty")
              if (toks.exists(_.isInstanceOf[PathParser.PIdx]))
                throw RmError("ExprError", argPathStr(0),
                  "array indexes are not allowed in path")
              (toks.collect { case PathParser.PKey(k) => k }, f)
            }
            for (i <- parsed.indices; j <- 0 until i)
              if (parsed(i)._1.startsWith(parsed(j)._1) || parsed(j)._1.startsWith(parsed(i)._1))
                throw RmError("ExprError", argPathStr(0), "path conflicts with another path")
            // nested insertion-ordered tree of either sub-objects or leaves
            val res = unflattenTree(a0, parsed)
            CE(nullGuard(0, res.value, res.tpe), a0.missing, res.tpe)
          case NullType =>
            throw RmError("ExprError", argPathStr(0), "expr arg must not be null")
          case _ =>
            throw RmError("ExprError", argPathStr(0), "expr arg must be object")
        }

      // -- keyed array ops (group_by/key_by/distinct_by; stringified keys,
      // insertion order — transform.rs:3662-3743, :3830-3870)
      case "group_by" =>
        val et = elemTypeOf(a0)
        val lam = lambda(1, et)
        def keyOf(x: Column, i: Column): Column = rmToString(lam(x, i)).value
        val ks = array_distinct(transform(a0.value, (x, i) => keyOf(x, i)))
        CE(map_from_entries(transform(ks, k =>
          struct(k, filter(a0.value, (x, i) => keyOf(x, i) === k)))),
          a0.missing, MapType(StringType, a0.tpe))
      case "key_by" =>
        // last wins per key
        val et = elemTypeOf(a0)
        val lam = lambda(1, et)
        def keyOf(x: Column, i: Column): Column = rmToString(lam(x, i)).value
        val ks = array_distinct(transform(a0.value, (x, i) => keyOf(x, i)))
        CE(map_from_entries(transform(ks, k =>
          struct(k, element_at(filter(a0.value, (x, i) => keyOf(x, i) === k), -1)))),
          a0.missing, MapType(StringType, et))
      case "distinct_by" =>
        // first occurrence of each key wins, original order preserved:
        // stringified keys from the lambda, then ONE linear native pass
        // (the filter-inside-filter combinator form is O(n²) per array)
        val et = elemTypeOf(a0)
        val lam = lambda(1, et)
        val keys = transform(a0.value, (x, i) => rmToString(lam(x, i)).value)
        CE(graft.functions.DistinctByKey.distinctBy(a0.value, keys),
          a0.missing, a0.tpe)

      case other => throw CompileError(s"unsupported op: $other")
    }
  }

  import PathParser.{PToken, PKey, PIdx}

  // mutable JSON-shaped build tree for pick / unflatten assembly
  private sealed trait PNode
  private final class ONode extends PNode {
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, PNode]
  }
  private final class ANode extends PNode {
    val items = scala.collection.mutable.LinkedHashMap.empty[Int, PNode]
    var max: Int = -1
  }
  /** `absentable`: an object member holding `ce` is left out where `ce` is
    * missing, not written as null. */
  private final case class PLeaf(ce: CE, absentable: Boolean = false) extends PNode

  private def materializeNode(n: PNode): CE = n match {
    case PLeaf(ce, _) => ce
    case o: ONode =>
      val (v, t) = objectOf(o.fields.toSeq.map { case (k, c) =>
        val ce = materializeNode(c)
        member(k, ce.copy(value = ce.valueOrNull), c match {
          case PLeaf(_, absentable) => absentable
          case _ => false
        })
      })
      CE(v, lit(false), t)
    case a: ANode =>
      val items = (0 to a.max).map(i => a.items.get(i).map(materializeNode))
      val ts = items.flatten.map(_.tpe).distinct
      if (ts.size == 1 && items.forall(_.isDefined))
        CE(array(items.flatten.map(_.valueOrNull): _*), lit(false), ArrayType(ts.head))
      else {
        // resize-with-null gaps or mixed element types → variant elements
        val cols = items.map {
          case Some(ce) => toVariant(ce)
          case None => parse_json(lit("null"))
        }
        CE(array(cols: _*), lit(false), ArrayType(VariantType))
      }
  }

  /** get_path over the static schema: absent-by-schema → None (path
    * skipped, reference get_path semantics). */
  private def getPathCE(base: CE, toks: Seq[PToken]): Option[CE] =
    toks.foldLeft(Option(base)) {
      case (None, _) => None
      case (Some(cur), PKey(k)) => cur.tpe match {
        case st: StructType =>
          st.fields.find(_.name == k).map(field(cur, _))
        case VariantType => Some(descend(cur, Seq(k)))
        case _ => None
      }
      case (Some(cur), PIdx(i)) => cur.tpe match {
        case ArrayType(et, _) =>
          Some(CE(get(cur.value, lit(i)), cur.missing || size(cur.value) <= i, et))
        case VariantType => Some(descend(cur, Seq(i.toString)))
        case _ => None
      }
    }

  /** pick: new object assembled by get_path + set_path_with_indexes per
    * path, in path order (transform.rs:4476-4536, :5217-5310). */
  private def staticPick(base: CE, paths: Seq[Seq[PToken]], errPath: String): CE = {
    val root = new ONode
    def conflict(): Nothing =
      throw RmError("ExprError", errPath, "path conflicts with non-object value")
    def insert(node: PNode, toks: Seq[PToken], ce: CE): Unit = (node, toks.head) match {
      case (o: ONode, PKey(k)) =>
        // a picked value that can be missing where the base object is
        // present (a tagged field, an array index, a variant key) is an
        // absentable member: the key is left out where it is missing
        if (toks.size == 1) o.fields(k) = PLeaf(ce, absentable = !(ce.missing eq base.missing))
        else {
          val wantArr = toks(1).isInstanceOf[PIdx]
          val entry = o.fields.getOrElseUpdate(k, if (wantArr) new ANode else new ONode)
          entry match {
            case _: ANode if wantArr => insert(entry, toks.tail, ce)
            case _: ONode if !wantArr => insert(entry, toks.tail, ce)
            case _ => conflict()
          }
        }
      case (a: ANode, PIdx(i)) =>
        a.max = math.max(a.max, i)
        if (toks.size == 1) a.items(i) = PLeaf(ce)
        else {
          val wantArr = toks(1).isInstanceOf[PIdx]
          val entry = a.items.getOrElseUpdate(i, if (wantArr) new ANode else new ONode)
          entry match {
            case _: ANode if wantArr => insert(entry, toks.tail, ce)
            case _: ONode if !wantArr => insert(entry, toks.tail, ce)
            case _ => conflict()
          }
        }
      case _ => conflict()
    }
    paths.foreach { toks =>
      getPathCE(base, toks).foreach(ce => insert(root, toks, ce))
    }
    val res = materializeNode(root)
    CE(res.value, base.missing, res.tpe)
  }

  /** omit: rebuild dropping paths (remove_path, transform.rs:5312-5340);
    * removing inside one array element makes elements heterogeneous, so
    * such arrays re-encode as variant elements. */
  private def staticOmit(base: CE, paths: Seq[Seq[PToken]], errPath: String): CE = {
    paths.foreach { p =>
      if (p.last.isInstanceOf[PIdx])
        throw RmError("ExprError", errPath, "array indexes are not allowed at path end")
    }
    removePaths(base, paths)
  }

  private def removePaths(base: CE, paths: Seq[Seq[PToken]]): CE = base.tpe match {
    case st: StructType =>
      val keyPaths = paths.collect { case PKey(k) +: rest => (k, rest) }
      val dropWhole = keyPaths.collect { case (k, rest) if rest.isEmpty => k }.toSet
      val subPaths = keyPaths.filter(_._2.nonEmpty).groupMap(_._1)(_._2)
      val fs = st.fields.toSeq.flatMap { f =>
        if (dropWhole(f.name)) None
        else subPaths.get(f.name) match {
          case Some(sub) =>
            val v = removePaths(field(base, f), sub)
            Some(member(f.name, v.copy(value = v.valueOrNull), Absentable.valueType(f).isDefined))
          case None =>
            Some(f -> CE(base.value.getField(f.name), base.missing, f.dataType).valueOrNull)
        }
      }
      val (v, t) = objectOf(fs)
      CE(v, base.missing, t)
    case ArrayType(et, _) =>
      val idxPaths = paths.collect { case PIdx(i) +: rest if rest.nonEmpty => (i, rest) }
      if (idxPaths.isEmpty) base
      else {
        val byIdx = idxPaths.groupMap(_._1)(_._2)
        val v = transform(base.value, (x, i) => {
          val xCE = CE.present(x, et)
          byIdx.foldLeft(toVariant(xCE)) { case (acc, (idx, sub)) =>
            when(i === idx, toVariant(removePaths(xCE, sub))).otherwise(acc)
          }
        })
        CE(v, base.missing, ArrayType(VariantType))
      }
    case _ => base // removing through a scalar: no-op (remove_path)
  }

  /** pick/omit with per-record path arrays: inclusion is decided at run
    * time, so the result is a JSON fragment built over the static field
    * tree and parsed to a Variant. Arrays are included/excluded whole. */
  private def dynPickOmit(base: CE, pathsCol: Column, isPick: Boolean): CE = {
    val st = base.tpe.asInstanceOf[StructType]
    def render(prefix: Seq[String]): String = PathParser.formatTokens(prefix.map(PKey(_)))
    def escKey(k: String): String = k.replace("\\", "\\\\").replace("\"", "\\\"")
    def objFrag(cur: Column, t: StructType, prefix: Seq[String]): Column = {
      val parts = t.fields.toSeq.map { f =>
        val p = prefix :+ f.name
        val exact = array_contains(pathsCol, render(p))
        val fieldVal = cur.getField(f.name)
        val whole = jsonFragment(fieldVal, f.dataType)
        val content: Column = f.dataType match {
          case cst: StructType =>
            val sub = objFrag(fieldVal, cst, p)
            if (isPick) when(exact, whole).otherwise(sub)
            else when(exact, lit(null).cast(StringType)).otherwise(sub)
          case _ =>
            if (isPick) when(exact, whole).otherwise(lit(null).cast(StringType))
            else when(exact, lit(null).cast(StringType)).otherwise(whole)
        }
        when(content.isNotNull, concat(lit("\"" + escKey(f.name) + "\":"), content))
          .otherwise(lit(null).cast(StringType))
      }
      val joined = array_join(filter(array(parts: _*), c => c.isNotNull), ",")
      if (isPick) // a nested object with nothing picked is excluded
        when(joined === "", lit(null).cast(StringType))
          .otherwise(concat(lit("{"), joined, lit("}")))
      else concat(lit("{"), joined, lit("}"))
    }
    val rootFrag = coalesce(objFrag(base.value, st, Nil), lit("{}"))
    CE(parse_json(rootFrag), base.missing, VariantType)
  }

  /** entries → map with LAST-occurrence-wins duplicate keys (the
    * reference's insertion semantics for from_entries). */
  private def lastWinMap(arr: CE, keyOf: Column => Column, valOf: Column => Column,
      vt: DataType): CE = {
    val decorated = transform(arr.value, (e, i) =>
      struct(keyOf(e).as("k"), valOf(e).as("v"), i.as("i")))
    val kept = filter(decorated, p =>
      size(filter(decorated, q =>
        q.getField("k") === p.getField("k") && q.getField("i") > p.getField("i"))) === 0)
    CE(map_from_entries(transform(kept, p => struct(p.getField("k"), p.getField("v")))),
      arr.missing, MapType(StringType, vt))
  }

  /** unflatten build: insertion-ordered nested objects from parsed key
    * paths (set_path_object_only, transform.rs:5151-5215). */
  private def unflattenTree(base: CE, parsed: Seq[(Seq[String], StructField)]): CE = {
    val root = new ONode
    def insert(node: ONode, path: Seq[String], ce: CE): Unit =
      if (path.size == 1) node.fields(path.head) = PLeaf(ce)
      else {
        val entry = node.fields.getOrElseUpdate(path.head, new ONode)
        insert(entry.asInstanceOf[ONode], path.tail, ce) // conflicts pre-checked
      }
    parsed.foreach { case (path, f) =>
      insert(root, path, CE(base.value.getField(f.name), lit(false), f.dataType))
    }
    materializeNode(root)
  }

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

  /** Shallow/recursive struct merge, right wins (merge_object,
    * transform.rs:5059-5076). A key the right object lacks in a record —
    * a missing right object, or an absent tagged field — keeps the left
    * value there; fields taken from one side keep their tags, and a merged
    * field is tagged where both sides' are. */
  private[rules] def mergeStructs(l: CE, r: CE, deep: Boolean): CE = (l.tpe, r.tpe) match {
    case (ls: StructType, rs: StructType) =>
      val names = (ls.fieldNames ++ rs.fieldNames.filterNot(ls.fieldNames.contains)).toSeq
      val members = names.map { n =>
        (ls.find(_.name == n), rs.find(_.name == n)) match {
          case (Some(lf), Some(rf)) =>
            val (lv, rv) = (field(l, lf), field(r, rf))
            val rTagged = Absentable.valueType(rf).isDefined
            val ce = (lv.tpe, rv.tpe) match {
              case (_: StructType, _: StructType) if deep => mergeStructs(lv, rv, deep = true)
              case (lt, rt) if lt == rt =>
                CE(when(!rv.missing, rv.value).otherwise(lv.value), lv.missing && rv.missing, rt)
              case _ if rTagged =>
                CE(when(!rv.missing, toVariant(rv)).otherwise(toVariant(lv)),
                  lv.missing && rv.missing, VariantType)
              case _ => rv
            }
            member(n, ce, rTagged && Absentable.valueType(lf).isDefined)
          case (_, Some(rf)) => rf -> r.value.getField(n)
          case (lf, None) => lf.get -> l.value.getField(n)
        }
      }
      val (v, t) = objectOf(members)
      CE(v, l.missing && r.missing, t)
    case (lt, rt) => throw CompileError(s"merge of non-objects: $lt, $rt")
  }
}
