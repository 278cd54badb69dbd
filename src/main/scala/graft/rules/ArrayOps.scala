package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.rmbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import ExprCompiler._
import ExprCompiler.Op._
import Model._

/** The array ops, `lookup` and the keyed array ops. An op that binds
  * re-compiles its lambda argument per element with `@item` (and `@acc`)
  * bound. */
object ArrayOps {

  val ops: Seq[Op] = Seq(
    Op(Seq("map"), Seq(Arrays), binds = true)(c => mapArray(c.a0, c.rawAt(1), c.env)),
    Op(Seq("filter"), Seq(Arrays), binds = true) { c => import c._
      val lam = lambda(1)
      CE(filter(a0.value, (x, i) => holds(lam(x, i))), a0.missing, a0.tpe)
    },
    Op(Seq("flat_map"), Seq(Arrays), binds = true) { c => import c._
      val mapped = mapArray(a0, rawAt(1), env)
      CE(flatten(mapped.value), mapped.missing,
        mapped.tpe.asInstanceOf[ArrayType].elementType match {
          case ArrayType(et, _) => ArrayType(et)
          case t => ArrayType(t)
        })
    },
    Op(Seq("flatten"), Seq(Arrays)) { c => import c._
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
    },
    Op(Seq("take", "drop"), Seq(Arrays)) { c => import c._
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
    },
    Op(Seq("slice"), Seq(Arrays)) { c => import c._
      val sz = size(a0.value).cast(LongType)
      val startRaw = arg(1).value.cast(LongType)
      val endRaw = argOpt(2).map(_.value.cast(LongType)).getOrElse(sz)
      val start = when(startRaw < 0, greatest(sz + startRaw, lit(0L))).otherwise(least(startRaw, sz))
      val end = when(endRaw < 0, greatest(sz + endRaw, lit(0L))).otherwise(least(endRaw, sz))
      val count = greatest(end - start, lit(0L))
      CE(slice(a0.value, (start + 1).cast(IntegerType), count.cast(IntegerType)),
        missingAny(nArgs), a0.tpe)
    },
    Op(Seq("chunk"), Seq(Arrays)) { c => import c._
      val et = elemTypeOf(a0)
      val n = litInt(1).getOrElse(throw CompileError("chunk needs literal size"))
      if (n < 1) throw CompileError("chunk size must be >= 1")
      val nChunks = ceil(size(a0.value).cast(DoubleType) / n).cast(IntegerType)
      val v = transform(sequence(lit(0), greatest(nChunks - 1, lit(0))),
        i => slice(a0.value, i * n + 1, lit(n)))
      CE(when(size(a0.value) === 0, array().cast(ArrayType(a0.tpe)))
        .otherwise(v), a0.missing, ArrayType(a0.tpe))
    },
    // shortest-length PAIR ARRAYS (reference zip → [[a, b], ...])
    Op(Seq("zip"), Seq(Arrays)) { c => import c._
      val (et1, et2) = (elemTypeOf(a0), elemTypeOf(arg(1)))
      val pt = if (et1 == et2) et1 else VariantType
      CE(zipShortest(a0.value, arg(1).value, (x, y) => pair(x, y, et1, et2).value),
        missingAny(2), ArrayType(ArrayType(pt)))
    },
    Op(Seq("zip_with"), Seq(Arrays), binds = true) { c => import c._
      val (et1, et2) = (elemTypeOf(a0), elemTypeOf(arg(1)))
      val body = rawAt(2)
      var resT: DataType = NullType
      val v = zipShortest(a0.value, arg(1).value, (x, y) => {
        // @item.value[0]/[1]
        val p = pair(x, y, et1, et2)
        val r = compile(body, env.copy(item = Some(p), pipeValue = Some(p)))
        resT = r.tpe
        r.value
      })
      CE(v, missingAny(2), ArrayType(resT))
    },
    Op(Seq("unzip"), Seq(Arrays)) { c => import c._
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
    },
    // keyed ops: stringified keys, insertion order (transform.rs:3662-3743,
    // :3830-3870)
    Op(Seq("group_by"), Seq(Arrays), binds = true)(c => byKey(c, identity, c.a0.tpe)),
    // last wins per key
    Op(Seq("key_by"), Seq(Arrays), binds = true)(c =>
      byKey(c, element_at(_, -1), c.elemTypeOf(c.a0))),
    Op(Seq("partition"), Seq(Arrays), binds = true) { c => import c._
      // [matched, unmatched] by predicate; null/missing predicate = false
      // ⇒ element lands in unmatched (transform.rs:3745-3789)
      val lam = lambda(1)
      CE(array(filter(a0.value, (x, i) => holds(lam(x, i))),
        filter(a0.value, (x, i) => !holds(lam(x, i)))),
        a0.missing, ArrayType(a0.tpe))
    },
    Op(Seq("unique"), Seq(Arrays))(c => CE(array_distinct(c.a0.value), c.a0.missing, c.a0.tpe)),
    Op(Seq("distinct_by"), Seq(Arrays), binds = true) { c => import c._
      // first occurrence of each key wins, original order preserved:
      // stringified keys from the lambda, then ONE linear native pass
      // (the filter-inside-filter combinator form is O(n²) per array)
      val lam = lambda(1)
      val keys = transform(a0.value, (x, i) => rmToString(lam(x, i)).value)
      CE(graft.functions.DistinctByKey.distinctBy(a0.value, keys),
        a0.missing, a0.tpe)
    },
    Op(Seq("sort_by"), Seq(Arrays), binds = true) { c => import c._
      val lam = lambda(1)
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
    },
    Op(Seq("find", "find_index"), Seq(Arrays), binds = true) { c => import c._
      val et = elemTypeOf(a0)
      val lam = lambda(1)
      if (op == "find") {
        val matches = filter(a0.value, (x, i) => holds(lam(x, i)))
        CE(element_at(matches, 1), a0.missing || size(matches) === 0, et)
      } else {
        val decorated = transform(a0.value, (x, i) => struct(x.as("x"), i.as("i")))
        val idxs = filter(decorated, p => holds(lam(p.getField("x"), p.getField("i"))))
        CE(element_at(idxs, 1).getField("i").cast(LongType),
          a0.missing || size(idxs) === 0, LongType)
      }
    },
    // by string-coerced equality (transform.rs:4047-4115)
    Op(Seq("index_of"), Seq(Arrays))(membership),
    Op(Seq("contains"), Seq(Arrays), bool = true)(membership),
    Op(Seq("sum", "avg", "min", "max"), Seq(Arrays, Numeric)) { c => import c._
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
    },
    Op(Seq("reduce", "fold"), Seq(Arrays), binds = true) { c => import c._
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
    },
    Op(Seq("first", "last")) { c => import c._
      val et = elemTypeOf(a0)
      CE(element_at(a0.value, if (op == "first") 1 else -1),
        a0.missing || size(a0.value) === 0, et)
    },

    // explicit args [from, key, value, get?], or the pipe value as `from`
    // (docs/rules_spec_en.md:402-424). A v2 `lookup` step parses as
    // `lookup_all` (YamlParser.parsePipeStep): no match is an empty array
    // there, and missing in v1.
    Op(Seq("lookup", "lookup_first"), Seq(Other), aliases = Seq("lookup_all")) { c => import c._
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
    })

  private def membership(c: Call): CE = { import c._
    val et = elemTypeOf(a0)
    val needle = rmToString(arg(1))
    val strArr = transform(a0.value, x => rmToString(CE.present(x, et)).value)
    if (op == "contains")
      CE(coalesce(array_contains(strArr, needle.value), lit(false)), missingAny(2), BooleanType)
    else
      CE(coalesce(array_position(strArr, needle.value).cast(LongType) - 1, lit(-1L)),
        missingAny(2), LongType)
  }

  /** `[x, y]` of two arrays' elements: typed when both sides are,
    * variants when they differ (array() would coerce). */
  private def pair(x: Column, y: Column, et1: DataType, et2: DataType): CE =
    if (et1 == et2) CE.present(array(x, y), ArrayType(et1))
    else CE.present(array(toVariant(CE.present(x, et1)), toVariant(CE.present(y, et2))),
      ArrayType(VariantType))

  /** `f` over the element pairs of arrays `a` and `b`, cut to the shorter. */
  private def zipShortest(a: Column, b: Column, f: (Column, Column) => Column): Column =
    slice(zip_with(a, b, f), lit(1), least(size(a), size(b)))

  /** The map from each distinct key of the elements (the lambda's value,
    * stringified), in first-seen order, to `entry` of the elements with
    * that key. */
  private def byKey(c: Call, entry: Column => Column, vt: DataType): CE = { import c._
    val lam = lambda(1)
    def keyOf(x: Column, i: Column): Column = rmToString(lam(x, i)).value
    val ks = array_distinct(transform(a0.value, (x, i) => keyOf(x, i)))
    CE(map_from_entries(transform(ks, k =>
      struct(k, entry(filter(a0.value, (x, i) => keyOf(x, i) === k))))),
      a0.missing, MapType(StringType, vt))
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
}
