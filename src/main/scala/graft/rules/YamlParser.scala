package graft.rules

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

import Model._

/** YAML rule-file front-end covering both reference dialects:
  *
  *  - v1 object expressions: `{op, args}`, `{ref: "out.x"}`, `{chain: [...]}`
  *    (reference model.rs:160-188)
  *  - v2 pipe arrays: `["@input.x", trim, {concat: ["@out.y"]},
  *    {if: {cond, then, else}}, {let: {...}}, {map: [...]}]`
  *    (reference v2_parser.rs)
  *
  * Both parse into the unified `Model.Expr` IR.
  */
object YamlParser {

  final case class RuleParseError(message: String) extends RuntimeException(message)

  /** Parsed-rule LRU keyed by the exact YAML text, mirroring the
    * reference's parse_rule_file cache (lib.rs:37-59, capacity 128): a
    * serving loop (MCP transform, endpoint reload, CLI batch) that sends
    * the same rules_text repeatedly parses it once. RuleFile is an
    * immutable case-class tree, so sharing the cached instance is safe.
    * Parse FAILURES are not cached (they throw before insertion). */
  private val CacheCapacity = 128
  private val cache =
    new java.util.LinkedHashMap[String, RuleFile](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, RuleFile]): Boolean =
        size() > CacheCapacity
    }
  private val parsed = new java.util.concurrent.atomic.AtomicLong

  /** Number of actual (non-cached) parses — observable cache behavior. */
  def parseCount: Long = parsed.get

  def parse(yamlText: String): RuleFile = {
    val hit = cache.synchronized(cache.get(yamlText))
    if (hit != null) hit
    else {
      val rule = parseUncached(yamlText)
      cache.synchronized(cache.put(yamlText, rule))
      rule
    }
  }

  private def parseUncached(yamlText: String): RuleFile = {
    parsed.incrementAndGet()
    val root = asMap(new Yaml().load[Any](yamlText), "rule file")
    val version = root.get("version").map(v => toInt(v, "version")).getOrElse(2)
    val input = root.get("input").map(parseInput).getOrElse(InputSpec())
    val recordWhen = root.get("record_when").map(parseCondOrExpr)
    val mappings = root.get("mappings").map(parseMappings).getOrElse(Nil)
    val steps = root.get("steps").map(parseSteps).getOrElse(Nil)
    val finalize = root.get("finalize").map(parseFinalize)
    RuleFile(version, input, recordWhen, mappings, steps, finalize)
  }

  private def parseInput(v: Any): InputSpec = {
    val m = asMap(v, "input")
    val format = m.get("format").map(_.toString).getOrElse("json")
    format match {
      case "csv" =>
        val c = m.get("csv").map(asMap(_, "input.csv")).getOrElse(Map.empty)
        InputSpec(
          format = "csv",
          hasHeader = c.get("has_header").forall(b => b == true || b == "true"),
          delimiter = c.get("delimiter").map(_.toString).getOrElse(","),
          columns = c.get("columns").map(asList(_, "columns").map {
            case cm: java.util.Map[_, _] =>
              cm.asScala.collectFirst { case (k, v) if k.toString == "name" => v.toString }
                .getOrElse(throw RuleParseError("column needs name"))
            case s => s.toString
          }).getOrElse(Nil))
      case _ =>
        val j = m.get("json").map(asMap(_, "input.json")).getOrElse(Map.empty)
        InputSpec(
          format = "json",
          recordsPath = j.get("records_path")
            .map(p => PathParser.parse(p.toString)).getOrElse(Nil))
    }
  }

  private[graft] def parseMappings(v: Any): Seq[Mapping] =
    asList(v, "mappings").map(parseMapping)

  private def parseMapping(v: Any): Mapping = {
    val m = asMap(v, "mapping")
    val target = PathParser.parse(
      m.getOrElse("target", throw RuleParseError("mapping missing target")).toString)
    val expr = (m.get("source"), m.get("value"), m.get("expr")) match {
      case (Some(s), _, _) => sourceRef(s.toString)
      case (_, Some(value), _) => ELit(toJValue(value))
      case (_, _, Some(e)) => parseExpr(e)
      case _ => throw RuleParseError(s"mapping ${PathParser.render(target)}: needs source|value|expr")
    }
    Mapping(
      target = target,
      expr = expr,
      when = m.get("when").map(parseCondOrExpr),
      castTo = m.get("type").map(_.toString),
      required = m.get("required").contains(true),
      default = m.get("default").map(toJValue))
  }

  private def parseSteps(v: Any): Seq[Step] =
    asList(v, "steps").map { s =>
      val m = asMap(s, "step")
      if (m.contains("mappings")) StepMappings(parseMappings(m("mappings")))
      else if (m.contains("record_when")) StepRecordWhen(parseCondOrExpr(m("record_when")))
      else if (m.contains("asserts")) {
        // each assert: {when|cond, error: {code, message}} or flat code/message
        StepAsserts(asList(m("asserts"), "asserts").map { a =>
          val am = asMap(a, "assert")
          val cond = parseCondOrExpr(am.getOrElse("when",
            am.getOrElse("cond", throw RuleParseError("assert needs when"))))
          val (code, msg) = am.get("error") match {
            case Some(e) =>
              val em = asMap(e, "error")
              (em.get("code").map(_.toString).getOrElse("AssertionFailed"),
                em.get("message").map(_.toString).getOrElse(""))
            case None =>
              (am.get("code").map(_.toString).getOrElse("AssertionFailed"),
                am.get("message").map(_.toString).getOrElse(""))
          }
          AssertSpec(cond, code, msg)
        })
      } else if (m.contains("branch")) {
        val bm = asMap(m("branch"), "branch")
        StepBranch(
          parseCondOrExpr(bm.getOrElse("when", throw RuleParseError("branch needs when"))),
          bm.getOrElse("then", throw RuleParseError("branch needs then")).toString,
          bm.get("else").map(_.toString),
          bm.get("return").contains(true))
      } else throw RuleParseError(s"unknown step keys: ${m.keys.mkString(",")}")
    }

  private def parseFinalize(v: Any): Finalize = {
    val m = asMap(v, "finalize")
    Finalize(
      filter = m.get("filter").map(parseCondOrExpr),
      sort = m.get("sort").map { s =>
        val sm = asMap(s, "finalize.sort")
        SortSpec(
          PathParser.parse(sm.getOrElse("by", throw RuleParseError("sort needs by")).toString),
          sm.get("order").exists(_.toString == "desc"))
      },
      offset = m.get("offset").map(toInt(_, "offset")),
      limit = m.get("limit").map(toInt(_, "limit")),
      wrap = m.get("wrap").map(w => asMap(w, "wrap").toSeq.map {
        case (k, v) => k -> parseWrapValue(v)
      }).getOrElse(Nil))
  }

  /** wrap values: a YAML map = nested wrap object; anything else = expr
    * (with @out bound to the whole output array). */
  private def parseWrapValue(v: Any): WrapValue = v match {
    case m: java.util.Map[_, _] =>
      WObject(asMap(m, "wrap object").toSeq.map { case (k, vv) => k -> parseWrapValue(vv) })
    case other => WExpr(parseExpr(other))
  }

  // ---- expressions ----

  /** `source:` shorthand: bare column = input-relative; an explicit
    * namespace prefix (input/context/out/item/acc) is honored. */
  private[rules] def sourceRef(s: String): Expr = {
    val path = PathParser.parse(s)
    path.head match {
      case "input" => ERef(RInput, path.tail)
      case "context" => ERef(RContext, path.tail)
      case "out" => ERef(ROut, path.tail)
      case "item" | "acc" => refFromTokens(path)
      case _ => ERef(RInput, path)
    }
  }

  /** v1 ref string (no @): first token selects the namespace. */
  private def refFromTokens(path: Seq[String]): Expr = path match {
    case Seq("input", rest @ _*) => ERef(RInput, rest)
    case Seq("context", rest @ _*) => ERef(RContext, rest)
    case Seq("out", rest @ _*) => ERef(ROut, rest)
    case Seq("item", "index") => ERef(RItemIndex, Nil)
    case Seq("item", "value", rest @ _*) => ERef(RItem, rest)
    case Seq("item", rest @ _*) => ERef(RItem, rest)
    case Seq("acc", "value", rest @ _*) => ERef(RAcc, rest)
    case Seq("acc", rest @ _*) => ERef(RAcc, rest)
    case other => throw RuleParseError(s"unknown ref namespace: ${other.headOption.getOrElse("")}")
  }

  /** v2 @-ref: `@input.a`, `@out.x`, `@item`, `@item.index`, `@acc`,
    * `@myvar.path` (let-bound variable). */
  private[rules] def atRef(s: String): Expr = {
    val path = PathParser.parse(s.stripPrefix("@"))
    path.head match {
      case "input" | "context" | "out" | "item" | "acc" => refFromTokens(path)
      case v => ERef(RVar(v), path.tail)
    }
  }

  /** Expression entry: YAML list ⇒ v2 pipe; map ⇒ v1 object form;
    * scalar string starting with '@' or equal to '$' ⇒ v2 ref; else literal
    * (reference dialect dispatch, transform.rs:965-997). */
  private[graft] def parseExpr(v: Any): Expr = v match {
    case l: java.util.List[_] => parsePipe(l.asScala.toSeq)
    case m: java.util.Map[_, _] => parseV1Expr(mapOf(m))
    case s: String => parsePipeStart(s)
    case other => ELit(toJValue(other))
  }

  private def parsePipe(items: Seq[Any]): Expr = {
    if (items.isEmpty) throw RuleParseError("empty pipe")
    // a pipe may START with a step (e.g. a nested `if` inside an else
    // branch) — then the initial value is the enclosing pipe value ($)
    items.head match {
      case m: java.util.Map[_, _] if !mapOf(m).contains("lit") =>
        EPipe(ERef(RPipe, Nil), items.map(parsePipeStep))
      case h => EPipe(parsePipeStart(h), items.tail.map(parsePipeStep))
    }
  }

  private def parsePipeStart(v: Any): Expr = v match {
    case s: String if s.startsWith("lit:") => ELit(JString(s.stripPrefix("lit:")))
    case s: String if s == "$" => ERef(RPipe, Nil)
    case s: String if s == "@input" => ERef(RInput, Nil)
    case s: String if s == "@context" => ERef(RContext, Nil)
    case s: String if s.startsWith("@") => atRef(s)
    case m: java.util.Map[_, _] =>
      val mm = mapOf(m)
      if (mm.size == 1 && mm.contains("lit")) ELit(toJValue(mm("lit")))
      else throw RuleParseError(s"pipe start must be ref/literal/lit, got map ${mm.keys}")
    case other => ELit(toJValue(other))
  }

  private[rules] def parsePipeStep(v: Any): PipeStep = v match {
    case s: String if s == "$" || s.startsWith("@") || s.startsWith("lit:") =>
      SValue(parsePipeStart(s))
    case s: String => SOp(s, Nil) // bare op name, e.g. `trim`
    case m: java.util.Map[_, _] =>
      val mm = mapOf(m)
      if (mm.size != 1) throw RuleParseError(s"pipe step must have one key, got ${mm.keys}")
      val (key, value) = mm.head
      key match {
        case "let" =>
          SLet(mapOf(asJavaMap(value, "let")).toSeq.map { case (k, ve) => k -> parseExpr(ve) })
        case "if" =>
          val im = mapOf(asJavaMap(value, "if"))
          SIf(
            parseCond(im.getOrElse("cond", throw RuleParseError("if needs cond"))),
            im.get("then").map(parseExpr),
            im.get("else").map(parseExpr))
        case "map" =>
          // v2 map-step body is a list of STEPS over the element: the
          // element is the initial pipe value ($); model as a pipe starting
          // at $ (reference v2_eval.rs:955-1045)
          SMap(EPipe(ERef(RPipe, Nil), asList(value, "map body").map(parsePipeStep)))
        case op =>
          // v2 lookup returns the (possibly empty) match array; v1 lookup
          // yields missing on no-match — keep them apart by name
          val opName = if (op == "lookup") "lookup_all" else op
          SOp(opName, value match {
            // single non-list arg shorthand: `pick: "@input.paths"`
            case l: java.util.List[_] => l.asScala.toSeq.map(parseExpr)
            case other => Seq(parseExpr(other))
          })
      }
    case other => throw RuleParseError(s"bad pipe step: $other")
  }

  /** v1 object expression: {ref}, {op,args}, {chain}. */
  private def parseV1Expr(m: Map[String, Any]): Expr = {
    if (m.contains("ref")) refFromTokens(PathParser.parse(m("ref").toString))
    else if (m.contains("chain")) {
      val items = asList(m("chain"), "chain").map(parseExpr)
      // chain: first expr is the seed; each later op gets the running value
      // injected as its implicit first argument (transform.rs:1193-1245)
      EPipe(items.head, items.tail.map {
        case EOp(op, args) => SOp(op, args)
        case other => throw RuleParseError(s"chain element must be op call, got $other")
      })
    } else if (m.contains("op")) {
      EOp(m("op").toString, m.get("args").map(asList(_, "args").map(parseV1Arg)).getOrElse(Nil))
    } else if (m.size == 1 && m.contains("lit")) ELit(toJValue(m("lit")))
    else throw RuleParseError(s"bad v1 expr keys: ${m.keys.mkString(",")}")
  }

  /** v1 op arguments: a YAML list of plain scalars/lists is a LITERAL array
    * (pick/omit path lists, zip literals) — v1 has no pipe syntax, so only
    * maps are expression forms there. */
  private def parseV1Arg(v: Any): Expr = v match {
    case l: java.util.List[_] if isJsonLiteral(l) => ELit(toJValue(l))
    case other => parseExpr(other)
  }

  private def isJsonLiteral(v: Any): Boolean = v match {
    case null => true
    case _: String | _: java.lang.Boolean | _: java.lang.Integer | _: java.lang.Long |
         _: java.lang.Double | _: java.lang.Float | _: java.math.BigInteger => true
    case l: java.util.List[_] => l.asScala.forall(isJsonLiteral)
    case _ => false
  }

  /** Conditions: v2 map forms (eq/ne/gt/gte/lt/lte/all/any/not/match); a v1
    * expression anywhere a condition is allowed becomes CExpr (must evaluate
    * to boolean). */
  private[graft] def parseCond(v: Any): Cond = v match {
    case m: java.util.Map[_, _] =>
      val mm = mapOf(m)
      if (mm.size == 1) {
        val (key, value) = mm.head
        def two: (Expr, Expr) = {
          val l = asList(value, key)
          if (l.size != 2) throw RuleParseError(s"$key needs 2 args")
          (parseExpr(l(0)), parseExpr(l(1)))
        }
        key match {
          case "all" => CAll(asList(value, "all").map(parseCond))
          case "any" => CAny(asList(value, "any").map(parseCond))
          case "not" => CNot(parseCond(value))
          case "eq" => val (l, r) = two; CEq(l, r)
          case "ne" => val (l, r) = two; CNe(l, r)
          case "gt" => val (l, r) = two; CGt(l, r)
          case "gte" => val (l, r) = two; CGte(l, r)
          case "lt" => val (l, r) = two; CLt(l, r)
          case "lte" => val (l, r) = two; CLte(l, r)
          case "match" =>
            val l = asList(value, "match")
            CMatch(parseExpr(l(0)), l(1).toString)
          case _ => CExpr(parseExpr(v))
        }
      } else CExpr(parseExpr(v))
    case other => CExpr(parseExpr(other))
  }

  private def parseCondOrExpr(v: Any): Cond = parseCond(v)

  // ---- YAML plumbing ----

  private[graft] def toJValue(v: Any): JValue = v match {
    case null => JNull
    case b: java.lang.Boolean => JBool(b)
    case i: java.lang.Integer => JLong(i.longValue)
    case l: java.lang.Long => JLong(l)
    // SnakeYAML reads an integer as a BigInteger only beyond the long
    // range: a double there, as JSON ingest types it
    case bi: java.math.BigInteger => JDouble(bi.doubleValue)
    case d: java.lang.Double => JDouble(d)
    case f: java.lang.Float => JDouble(f.doubleValue)
    case s: String => JString(s)
    case l: java.util.List[_] => JArray(l.asScala.toSeq.map(toJValue))
    case m: java.util.Map[_, _] =>
      JObject(m.asScala.toSeq.map { case (k, value) => k.toString -> toJValue(value) })
    case other => throw RuleParseError(s"unsupported YAML value: $other (${other.getClass})")
  }

  private def mapOf(m: java.util.Map[_, _]): Map[String, Any] = {
    val b = scala.collection.immutable.ListMap.newBuilder[String, Any]
    m.asScala.foreach { case (k, v) => b += (k.toString -> v) }
    b.result()
  }

  private def asMap(v: Any, what: String): Map[String, Any] = v match {
    case m: java.util.Map[_, _] => mapOf(m)
    case other => throw RuleParseError(s"$what must be a map, got $other")
  }

  private def asJavaMap(v: Any, what: String): java.util.Map[_, _] = v match {
    case m: java.util.Map[_, _] => m
    case other => throw RuleParseError(s"$what must be a map, got $other")
  }

  private def asList(v: Any, what: String): Seq[Any] = v match {
    case l: java.util.List[_] => l.asScala.toSeq
    case other => throw RuleParseError(s"$what must be a list, got $other")
  }

  private def toInt(v: Any, what: String): Int = v match {
    case i: java.lang.Integer => i
    case l: java.lang.Long => l.toInt
    case s: String => s.toInt
    case other => throw RuleParseError(s"$what must be an int, got $other")
  }
}
