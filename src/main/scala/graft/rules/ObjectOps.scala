package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ScalarJson

import ExprCompiler._
import ExprCompiler.Op._
import Model._
import PathParser.{PToken, PKey, PIdx}

/** The object ops (static struct shapes — reference merge/pick/omit etc.,
  * transform.rs:4360-4963). Structs carry their schema at plan time, so
  * these are compile-time re-projections; heterogeneous results
  * (mixed-typed values, per-record path sets, index-modified arrays) fall
  * back to Variant values, which the JSON sink serializes natively. */
object ObjectOps {

  val ops: Seq[Op] = Seq(
    Op(Seq("merge", "deep_merge"), Seq(Json)) { c => import c._
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
    },
    Op(Seq("get"), Seq(Json)) { c => import c._
      val path = litString(1).map(PathParser.parse)
        .getOrElse(throw CompileError("get needs literal path"))
      descend(a0, path)
    },
    Op(Seq("pick", "omit"), Seq(Json)) { c => import c._
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
            val parsed = ps.map { case (p, i) => pathTokens(p, argPathStr(i)) }
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
    },
    // keys/values/entries enumerate object keys ALPHABETICALLY — the
    // reference's serde_json maps are BTreeMaps (no preserve_order)
    Op(Seq("keys"), Seq(Json)) { c => import c._
      if (a0 eq CE.missing) CE.missing
      else a0.tpe match {
        case MapType(_, _, _) =>
          CE(sort_array(map_keys(a0.value)), a0.missing, ArrayType(StringType))
        case _ =>
          val st = structArg(0)
          CE(nullGuard(0, presentKeys(a0.value, StructType(st.fields.sortBy(_.name))),
            ArrayType(StringType)), a0.missing, ArrayType(StringType))
      }
    },
    Op(Seq("values"), Seq(Json)) { c => import c._
      if (a0 eq CE.missing) CE.missing
      else a0.tpe match {
        case MapType(_, vt, _) =>
          CE(transform(sort_array(map_keys(a0.value)), k => a0.value.getItem(k)),
            a0.missing, ArrayType(vt))
        case _ =>
          val st = structArg(0)
          val sorted = st.fields.toSeq.sortBy(_.name)
          val et = valuesType(st)
          val arrCol =
            if (et != VariantType) array(sorted.map(f => a0.value.getField(f.name)): _*)
            else // mixed-typed fields → heterogeneous JSON array (variants)
              array_compact(array(sorted.map(f =>
                ifPresent(a0.value, f, toVariant(field(CE.present(a0.value, st), f)))): _*))
          CE(nullGuard(0, arrCol, ArrayType(et)), a0.missing, ArrayType(et))
      }
    },
    Op(Seq("entries"), Seq(Json)) { c => import c._
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
          val vt = valuesType(st)
          val entriesCol = array_compact(array(sorted.map { f =>
            val v = if (vt == VariantType) toVariant(field(CE.present(a0.value, st), f))
              else a0.value.getField(f.name)
            ifPresent(a0.value, f, struct(lit(f.name).as("key"), v.as("value")))
          }: _*))
          val et = StructType(Seq(StructField("key", StringType), StructField("value", vt)))
          CE(nullGuard(0, entriesCol, ArrayType(et)), a0.missing, ArrayType(et))
      }
    },
    Op(Seq("len"), Seq(Json)) { c => import c._
      if (a0 eq CE.missing) CE.missing
      else {
        val v = a0.tpe match {
          case StringType => length(a0.value)
          case ArrayType(_, _) => size(a0.value)
          case st: StructType => size(presentKeys(a0.value, st))
          case t => throw CompileError(s"len of $t")
        }
        CE(v.cast(LongType), a0.missing, LongType)
      }
    },
    Op(Seq("from_entries"), Seq(Json)) { c => import c._
      // forms: (pairs-array) | (entries-array) | (object → clone) |
      // (key, value → single-pair object); duplicate keys: LAST wins
      // (reference from_entries insertion semantics)
      def badPair = RmError.raiseCol("ExprError", s"${argPathStr(0)}[0]",
        "expr arg must be an entry pair")
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
          lastWinMap(a0,
            p => when(size(p) =!= 2, badPair.cast(StringType))
              .otherwise(rmToString(CE.present(element_at(p, 1), et)).value),
            p => when(size(p) === 2, element_at(p, 2)), et)
        case ArrayType(VariantType, _) =>
          // variant elements must each be a [k, v] pair array; a direct
          // cast throws under ANSI, so gate on the variant's own schema
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
    },
    Op(Seq("object_flatten"), Seq(Json)) { c => import c._
      // flatten_object (transform.rs:4832-4855, :5077-5116): nested keys
      // join with dots (bracket-quoted iff the key contains a dot); empty
      // objects flatten to themselves; arrays are leaves
      if (a0 eq CE.missing) CE.missing
      else {
        val st = structArg(0)
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
      }
    },
    Op(Seq("object_unflatten"), Seq(Json)) { c => import c._
      // eval_json_object_unflatten (transform.rs:4857-4912): parse each
      // flat key as a dot-path (no indexes), reject prefix conflicts,
      // rebuild the nested object in first-seen order
      if (a0 eq CE.missing) CE.missing
      else {
        val st = structArg(0)
        val parsed: Seq[(Seq[String], StructField)] = st.fields.toSeq.map { f =>
          val toks = pathTokens(f.name, argPathStr(0))
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
      }
    })

  /** The tokens of path `p`: an ExprError at `at` if it does not parse or
    * is empty. */
  private def pathTokens(p: String, at: String): Seq[PToken] = {
    val toks = try PathParser.parseTokens(p)
      catch { case e: PathParser.PathError => throw RmError("ExprError", at, e.getMessage) }
    if (toks.isEmpty) throw RmError("ExprError", at, "path is empty")
    toks
  }

  /** The type of the values of an object of type `st`: its one field type
    * (string when it has none), or variant when they differ. */
  private def valuesType(st: StructType): DataType = {
    val ts = st.fields.map(_.dataType).distinct.toSeq
    if (ts.size <= 1 && ts.headOption.forall(_ != VariantType))
      ts.headOption.getOrElse(StringType) else VariantType
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
    def insert(node: PNode, toks: Seq[PToken], ce: CE): Unit = {
      // descend into the child `entry` makes (given the node it would
      // add): an array where the next token is an index, else an object
      def child(entry: PNode => PNode): Unit = {
        val wantArr = toks(1).isInstanceOf[PIdx]
        entry(if (wantArr) new ANode else new ONode) match {
          case e: ANode if wantArr => insert(e, toks.tail, ce)
          case e: ONode if !wantArr => insert(e, toks.tail, ce)
          case _ => conflict()
        }
      }
      (node, toks.head) match {
        case (o: ONode, PKey(k)) =>
          // a picked value that can be missing where the base object is
          // present (a tagged field, an array index, a variant key) is an
          // absentable member: the key is left out where it is missing
          if (toks.size == 1) o.fields(k) = PLeaf(ce, absentable = !(ce.missing eq base.missing))
          else child(o.fields.getOrElseUpdate(k, _))
        case (a: ANode, PIdx(i)) =>
          a.max = math.max(a.max, i)
          if (toks.size == 1) a.items(i) = PLeaf(ce) else child(a.items.getOrElseUpdate(i, _))
        case _ => conflict()
      }
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
        when(content.isNotNull, concat(lit(ScalarJson.quote(f.name) + ":"), content))
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
              case (lt, rt) if lt == rt || rTagged =>
                choose(Seq(!rv.missing -> rv), lv, lv.missing && rv.missing)
              // an untagged right key of another type replaces the left
              // one and keeps its type: a shallow merge replaces an object
              // by one of another shape as that object (t17)
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
