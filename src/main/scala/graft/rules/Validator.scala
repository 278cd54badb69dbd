package graft.rules

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

/** Static rule validation with the reference's error codes and paths
  * (reference validator.rs:14-37, v2_validator.rs): structural checks run
  * over the raw YAML tree BEFORE compilation, so errors carry rule-file
  * paths (`mappings[1].target`) rather than Spark analysis messages.
  */
object Validator {

  /** `message` carries the reference's human-readable wording
    * (validator.rs / v2_validator.rs emit sites) alongside the code —
    * CLI `-e json`/text and MCP meta errors surface it distinctly. */
  case class ValidationError(code: String, path: String, message: String = "")
      extends Diagnostic {
    def text: String = if (message.nonEmpty) message else code
    protected def diagnosticType: String = "validation"
    protected def name: String = code
  }

  /** Every op name the engine compiles (the op table, [[ExprCompiler.ops]],
    * aliases too) — the unknown-op check. */
  val knownOps: Set[String] = ExprCompiler.opNames(_ => true)

  private val refNamespaces = Set("input", "context", "out", "item", "acc")
  /** ops that bind @item / @acc scopes for their lambda argument */
  private val scopeOps = ExprCompiler.opNames(_.binds)
  /** ops that yield a boolean: a branch `when` may be one */
  private val boolOps = ExprCompiler.opNames(_.bool)

  def validate(yamlText: String): Seq[ValidationError] = {
    val root = new Yaml().load[Any](yamlText) match {
      case m: java.util.Map[_, _] => mapOf(m)
      case _ => return Seq(ValidationError("InvalidRuleFile", "", "rule file must be a YAML mapping"))
    }
    val errors = Seq.newBuilder[ValidationError]
    val v2 = root.get("version").forall(_.toString != "1")

    // input.csv.delimiter must be a single character (transform.rs:813-820)
    for {
      in <- root.get("input").collect { case m: java.util.Map[_, _] => mapOf(m) }
      csv <- in.get("csv").collect { case m: java.util.Map[_, _] => mapOf(m) }
      d <- csv.get("delimiter")
      if d.toString.length != 1
    } errors += ValidationError("InvalidDelimiterLength", "input.csv.delimiter", "csv.delimiter must be a single character")

    // record_when must be a condition/expr object, not a bare scalar
    root.get("record_when").foreach {
      case _: java.util.Map[_, _] | _: java.util.List[_] => ()
      case _ => errors += ValidationError("InvalidWhenType", "record_when", "when/record_when must evaluate to boolean")
    }

    var seenTargets = Set.empty[String]
    var definedOut = Set.empty[String]

    def checkMappings(ms: Seq[Any], prefix: String): Unit = ms.zipWithIndex.foreach {
      case (m: java.util.Map[_, _], i) =>
        val mm = mapOf(m)
        val base = s"$prefix[$i]"

        // exactly one of source/value/expr (validator.rs duplicate/exclusive)
        val has = Seq("source", "value", "expr").count(mm.contains)
        if (has == 0) errors += ValidationError("MissingMappingValue", base, "mapping must define source, value, or expr")

        // target path validity + duplicates; targets are objects-only dot
        // paths — array indexes are invalid (set_path, transform.rs:6075)
        mm.get("target").map(_.toString) match {
          case Some(t) =>
            val parsed = try Some(PathParser.parse(t)) catch { case _: Exception => None }
            parsed match {
              case None => errors += ValidationError("InvalidPath", s"$base.target", "target path is invalid")
              case Some(segs) if segs.exists(_.forall(_.isDigit)) && t.contains("[") =>
                errors += ValidationError("InvalidPath", s"$base.target", "target path must not include indexes")
              case Some(_) =>
                if (seenTargets.contains(t))
                  errors += ValidationError("DuplicateTarget", s"$base.target", "mapping.target is duplicated")
                seenTargets += t
            }
          case None => errors += ValidationError("InvalidPath", s"$base.target", "target path is invalid")
        }

        // when must be an expression object
        mm.get("when").foreach {
          case _: java.util.Map[_, _] | _: java.util.List[_] => ()
          case _ => errors += ValidationError("InvalidWhenType", s"$base.when", "when/record_when must evaluate to boolean")
        }

        // expr tree checks: ref namespaces, item-scope, forward @out refs,
        // unknown ops, lookup arg shapes
        mm.get("expr").foreach(e =>
          checkExpr(e, s"$base.expr", inItemScope = false, definedOut, errors,
            asPipe = v2))

        // an invalid target was reported above and defines nothing
        mm.get("target").map(_.toString).foreach { t =>
          try definedOut += PathParser.parse(t).headOption.getOrElse(t)
          catch { case _: PathParser.PathError => () }
        }
      case _ => ()
    }

    checkMappings(root.get("mappings").collect {
      case l: java.util.List[_] => l.asScala.toSeq
    }.getOrElse(Nil), "mappings")

    // steps: mappings continue the @out/target tracking; branch `when` must
    // be a condition (a value-typed v1 op is InvalidWhenType — tv26_v05)
    root.get("steps").collect { case l: java.util.List[_] => l.asScala.toSeq }
      .getOrElse(Nil).zipWithIndex.foreach {
        case (s: java.util.Map[_, _], si) =>
          val sm = mapOf(s)
          sm.get("mappings").collect { case l: java.util.List[_] => l.asScala.toSeq }
            .foreach(ms => checkMappings(ms, s"steps[$si].mappings"))
          sm.get("branch").collect { case m: java.util.Map[_, _] => mapOf(m) }
            .foreach { bm =>
              // branch sub-rules (external files) may define any @out field:
              // later forward-out checks are suppressed via the sentinel
              definedOut += "*"
              bm.get("when") match {
                case Some(w: java.util.Map[_, _]) =>
                  val wm = mapOf(w)
                  val condKeys = Set("all", "any", "not", "eq", "ne", "gt", "gte",
                    "lt", "lte", "match")
                  val isCond = wm.size == 1 && condKeys.contains(wm.keys.head)
                  val isBoolOp = wm.get("op").exists(o => boolOps.contains(o.toString))
                  if (!isCond && !isBoolOp)
                    errors += ValidationError("InvalidWhenType", s"steps[$si].branch.when", "when/record_when must evaluate to boolean")
                case Some(_: java.lang.Boolean) | None => ()
                case Some(_) =>
                  errors += ValidationError("InvalidWhenType", s"steps[$si].branch.when", "when/record_when must evaluate to boolean")
              }
            }
        case _ => ()
      }

    // finalize.wrap values are pipes (tv43: unknown op inside a wrap pipe)
    root.get("finalize").collect { case m: java.util.Map[_, _] => mapOf(m) }
      .flatMap(_.get("wrap")).collect { case m: java.util.Map[_, _] => mapOf(m) }
      .foreach { wm =>
        def walkWrap(v: Any, path: String): Unit = v match {
          case m: java.util.Map[_, _] =>
            mapOf(m).foreach { case (k, vv) => walkWrap(vv, s"$path.$k") }
          case other =>
            checkExpr(other, path, inItemScope = false, definedOut, errors, asPipe = v2)
        }
        wm.foreach { case (k, v) => walkWrap(v, s"finalize.wrap.$k") }
      }

    errors.result()
  }

  private def checkExpr(e: Any, path: String, inItemScope: Boolean,
      definedOut: Set[String],
      errors: scala.collection.mutable.Builder[ValidationError, Seq[ValidationError]],
      asPipe: Boolean = false): Unit =
    e match {
      case l: java.util.List[_] if asPipe =>
        // v2 pipe: [start, step, ...] — an empty pipe is invalid; bare
        // strings past position 0 are op names; single-key maps are steps
        val items = l.asScala.toSeq
        if (items.isEmpty) {
          errors += ValidationError("InvalidExprShape", path, "v2 pipe must be a non-empty array")
          return
        }
        items.zipWithIndex.foreach { case (item, j) =>
          val p = s"$path[$j]"
          item match {
            case s: String if j > 0 && !s.startsWith("@") && !s.startsWith("lit:") && s != "$" =>
              if (!knownOps.contains(s)) errors += ValidationError("UnknownOp", p, "expr.op is not supported")
            case m: java.util.Map[_, _] =>
              val mm = mapOf(m)
              // v1-form maps ({op}/{ref}/{chain}) keep their own handling
              if (mm.size == 1 && !mm.contains("op") && !mm.contains("ref") &&
                  !mm.contains("chain")) mm.head match {
                case ("let", v) =>
                  v match {
                    case bm: java.util.Map[_, _] => mapOf(bm).foreach { case (k, be) =>
                      checkExpr(be, s"$p.let.$k", inItemScope, definedOut, errors, asPipe = true)
                    }
                    case _ => ()
                  }
                case ("if", v) =>
                  v match {
                    case im: java.util.Map[_, _] =>
                      val imm = mapOf(im)
                      imm.get("then").foreach(checkExpr(_, s"$p.then", inItemScope, definedOut, errors, asPipe = true))
                      imm.get("else").foreach(checkExpr(_, s"$p.else", inItemScope, definedOut, errors, asPipe = true))
                    case _ => ()
                  }
                case ("map", v) =>
                  checkExpr(v, s"$p.map", inItemScope = true, definedOut, errors, asPipe = true)
                case ("lit", _) => ()
                case (op, v) =>
                  if (!knownOps.contains(op))
                    errors += ValidationError("UnknownOp", p, "expr.op is not supported")
                  val scoped = inItemScope || scopeOps.contains(op)
                  v match {
                    case al: java.util.List[_] =>
                      al.asScala.toSeq.zipWithIndex.foreach { case (a, k) =>
                        checkExpr(a, s"$p.args[$k]", scoped, definedOut, errors,
                          asPipe = a.isInstanceOf[java.util.List[_]])
                      }
                    case other =>
                      checkExpr(other, s"$p.args[0]", scoped, definedOut, errors)
                  }
              }
            case other =>
              checkExpr(other, p, inItemScope, definedOut, errors)
          }
        }
      case m: java.util.Map[_, _] =>
        val mm = mapOf(m)
        if (mm.contains("ref")) {
          val tokens = try PathParser.parse(mm("ref").toString) catch {
            case _: Exception => Nil
          }
          tokens.headOption match {
            case Some(ns) if !refNamespaces.contains(ns) =>
              errors += ValidationError("InvalidRefNamespace", path, "ref namespace must be input|context|out")
            case Some("item") | Some("acc") if !inItemScope =>
              // @item/@acc only valid inside map/filter/reduce scopes
              // (v2_validator.rs:958-area; reference reports the same
              // namespace code, fixture v11)
              errors += ValidationError("InvalidRefNamespace", path, "ref namespace must be input|context|out")
            case Some("out") =>
              if (tokens.size > 1 && !definedOut.contains(tokens(1)) &&
                  !definedOut.contains("*"))
                errors += ValidationError("ForwardOutReference", path, "out reference must point to previous mappings")
            case _ => ()
          }
        } else if (mm.contains("op")) {
          val op = mm("op").toString
          if (!knownOps.contains(op))
            errors += ValidationError("UnknownOp", s"$path.op", "expr.op is not supported")
          val args = mm.get("args").collect {
            case l: java.util.List[_] => l.asScala.toSeq
          }.getOrElse(Nil)
          // lookup/lookup_first: key path (arg 1) must be a literal string
          // (get_op_arg_range / arg-shape table, v2_validator.rs:812-862)
          if ((op == "lookup" || op == "lookup_first") && args.size >= 2 &&
              !args(1).isInstanceOf[String])
            errors += ValidationError("InvalidArgs", s"$path.args[1]", "lookup key must be a literal string path")
          val scoped = inItemScope || scopeOps.contains(op)
          args.zipWithIndex.foreach { case (a, j) =>
            checkExpr(a, s"$path.args[$j]", scoped, definedOut, errors)
          }
        } else if (mm.contains("chain")) {
          mm("chain") match {
            case l: java.util.List[_] =>
              l.asScala.toSeq.zipWithIndex.foreach { case (a, j) =>
                checkExpr(a, s"$path.chain[$j]", inItemScope, definedOut, errors)
              }
            case _ => ()
          }
        }
      case l: java.util.List[_] =>
        // v2 pipes: ref strings + op-step maps
        l.asScala.toSeq.zipWithIndex.foreach { case (item, j) =>
          checkExpr(item, s"$path[$j]", inItemScope, definedOut, errors)
        }
      case s: String if s.startsWith("@") =>
        val tokens = try PathParser.parse(s.stripPrefix("@")) catch {
          case _: Exception => Nil
        }
        tokens.headOption match {
          case Some("out") if tokens.size > 1 && !definedOut.contains(tokens(1)) &&
              !definedOut.contains("*") =>
            errors += ValidationError("ForwardOutReference", path, "out reference must point to previous mappings")
          case Some("item") | Some("acc") if !inItemScope =>
            errors += ValidationError("InvalidRefNamespace", path, "ref namespace must be input|context|out")
          case _ => ()
        }
      case _ => ()
    }

  private def mapOf(m: java.util.Map[_, _]): Map[String, Any] =
    m.asScala.map { case (k, v) => k.toString -> v }.toMap
}
