package graft.endpoint

import java.nio.file.Paths

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.rules.Engine
import graft.rules.ExprCompiler.jvalueToNode
import graft.rules.Model._

/** Reference-shaped rich trace for the endpoint engine (reference
  * `endpoint_engine.rs`: build_rule_nodes_from_rule:2355, the per-mapping
  * op capture build_mapping_ops_with_values:2975 and build_pipe_steps:3160):
  * per-step nodes with record_when/asserts_ok/branch_taken meta, a
  * recursive `child_trace` for the branch target the plan compiled, and
  * per-mapping op children carrying `input` / `pipe_value` / `args` /
  * `output` plus the per-stage `pipe_steps` transition the UI's OP-result
  * view renders.
  *
  * The trace comes from the one execution that produced the reply: the
  * engine runs the rule through [[Engine.toJsonRecordsTraced]], whose plan
  * records every pipe stage, `when` gate, condition outcome and cumulative
  * `@out` in the same job as the output. This class only renders those
  * values. A value the plan did not record — it raised, or its step never
  * ran — is an absent field, never a guess. Inner nodes carry no
  * `duration_us`: one job has no per-step timing. */
private[endpoint] final class TraceDetail {

  private val mapper = new ObjectMapper()
  private val traceSeq = new java.util.concurrent.atomic.AtomicLong()

  /** The recorded value at `key`, parsed. */
  private def recorded(run: Engine.Traced, key: String): Option[JsonNode] =
    run.values.get(key).flatMap { s =>
      try Some(mapper.readTree(s)) catch { case NonFatal(_) => None }
    }

  // -- entry points --------------------------------------------------------

  /** The `child_trace` document of one normal-rule execution: rule header,
    * a single record with per-step nodes, and the reference's summary
    * block. `scope` selects a branch sub-rule's values inside `run`. */
  def ruleTrace(name: String, refPath: String, rule: RuleFile, input: JsonNode,
      output: Option[JsonNode], run: Engine.Traced, durationUs: Option[Long],
      scope: String = ""): ObjectNode = {
    val (nodes, status) = ruleNodes(rule, input, run, scope)
    traceDoc(childDoc(), "normal", name, refPath, rule.version, status, input, output, nodes,
      durationUs, None)
  }

  /** Per-step nodes of one traced rule execution over its first record:
    * each step's cumulative output and keep state as the plan recorded
    * them, so a drop lands on exactly the step that caused it. Returns
    * (nodes, record status: "ok", or "skipped" when the record was
    * dropped). */
  def ruleNodes(rule: RuleFile, input: JsonNode, run: Engine.Traced,
      scope: String = ""): (ArrayNode, String) = {
    def value(key: String): Option[JsonNode] = recorded(run, scope + key)
    def flag(key: String): Option[Boolean] = value(key).map(_.asBoolean)
    val nodes = mapper.createArrayNode()
    // the engine applies TOP-LEVEL mappings before steps, so they surface
    // as their own node and their output is step 0's input
    val base = value("mappings")
    var alive = flag("mappings.kept").contains(true)
    if (rule.steps.isEmpty)
      nodes.add(stageNode("step-0", "mapping", "mappings", if (alive) "ok" else "skipped",
        input, base, mappingOps(rule.mappings, run, s"${scope}mappings", 0)))
    else if (rule.mappings.nonEmpty)
      // op ids use one-past-the-last step index — unique against every
      // real step's "op-<step>-<i>" children in the same record tree
      nodes.add(stageNode("mappings", "mapping", "mappings", if (alive) "ok" else "skipped",
        input, base, mappingOps(rule.mappings, run, s"${scope}mappings", rule.steps.length)))
    var stepInput = base.getOrElse(mapper.createObjectNode())
    rule.steps.zipWithIndex.foreach { case (step, i) =>
      val at = s"steps[$i]"
      // a step ran when the record reached it (after a return:true branch
      // the plan compiles no further steps, so nothing is recorded)
      val kept = flag(s"$at.kept")
      val ran = alive && kept.isDefined
      if (ran) alive = kept.contains(true)
      val output = if (ran && alive) value(at) else None
      val kind = step match {
        case _: StepBranch => "branch"
        case _: StepRecordWhen => "record_when"
        case _: StepAsserts => "asserts"
        case _: StepMappings => "mappings"
      }
      val node = stageNode(s"step-$i", kind, s"step-${i + 1}",
        if (output.isDefined) "ok" else "skipped", stepInput, output, step match {
          case StepMappings(ms) => mappingOps(ms, run, s"$scope$at.mappings", i)
          case _ => mapper.createArrayNode()
        })
      nodes.add(node)
      val meta = mapper.createObjectNode()
      if (ran) step match {
        case StepRecordWhen(_) =>
          flag(s"$at.record_when").foreach(f => meta.put("record_when", f))
        case StepAsserts(asserts) =>
          val flags = asserts.indices.map(a => flag(s"$at.asserts[$a]"))
          if (flags.forall(_.isDefined))
            meta.put("asserts_ok", flags.forall(_.contains(true)))
        case StepBranch(_, thenPath, elsePath, _) =>
          // an errored condition records no outcome: branch_taken is
          // omitted rather than claimed
          val taken = flag(s"$at.when").map {
            case true => "then"
            case false => if (elsePath.isDefined) "else" else "none"
          }
          taken.foreach(t => meta.put("branch_taken", t))
          val refs = mapper.createArrayNode()
          refs.add(thenPath); elsePath.foreach(refs.add)
          meta.set[JsonNode]("rule_refs", refs)
          val labels = mapper.createArrayNode()
          labels.add("branch: then"); elsePath.foreach(_ => labels.add("branch: else"))
          meta.set[JsonNode]("rule_ref_labels", labels)
          taken.filter(_ != "none").foreach { side =>
            val p = if (side == "then") thenPath else elsePath.get
            meta.put("rule_ref", p)
            meta.put("rule_ref_label", s"branch: $side")
            val subScope = s"$scope$at.$side/"
            run.subRules.get(subScope).foreach { sub =>
              node.set[JsonNode]("child_trace", ruleTrace(
                Option(Paths.get(p).getFileName).map(_.toString).getOrElse(p), p, sub,
                stepInput, value(s"$at.$side/out"), run, None, subScope))
            }
          }
        case _ => ()
      }
      if (meta.size() > 0) node.set[JsonNode]("meta", meta)
      output.foreach(stepInput = _)
    }
    rule.finalizeSpec.foreach { fin =>
      val node = mapper.createObjectNode()
      node.put("id", "finalize")
      node.put("kind", "finalize")
      node.put("label", "finalize")
      node.put("status", "ok")
      val ops = mapper.createArrayNode()
      def finOp(id: String, label: String, args: ObjectNode): Unit = {
        val op = mapper.createObjectNode()
        op.put("id", id); op.put("kind", "op"); op.put("label", label)
        op.put("status", "ok")
        val meta = mapper.createObjectNode(); meta.put("op", label)
        op.set[JsonNode]("meta", meta)
        op.set[JsonNode]("args", args)
        ops.add(op)
      }
      fin.filter.foreach { c =>
        val a = mapper.createObjectNode()
        a.set[JsonNode]("expr", renderCond(c)); finOp("op-filter", "filter", a)
      }
      fin.sort.foreach { s =>
        val a = mapper.createObjectNode()
        val by = mapper.createArrayNode(); s.by.foreach(by.add)
        a.set[JsonNode]("by", by)
        a.put("order", if (s.descending) "desc" else "asc")
        finOp("op-sort", "sort", a)
      }
      fin.offset.foreach { o =>
        val a = mapper.createObjectNode(); a.put("offset", o)
        finOp("op-offset", "offset", a)
      }
      fin.limit.foreach { l =>
        val a = mapper.createObjectNode(); a.put("limit", l)
        finOp("op-limit", "limit", a)
      }
      if (fin.wrap.nonEmpty) {
        val a = mapper.createObjectNode()
        val keys = mapper.createArrayNode(); fin.wrap.foreach(w => keys.add(w._1))
        a.set[JsonNode]("keys", keys)
        finOp("op-wrap", "wrap", a)
      }
      if (ops.size() > 0) node.set[JsonNode]("children", ops)
      nodes.add(node)
    }
    (nodes, if (alive) "ok" else "skipped")
  }

  /** Per-mapping op nodes (reference build_mapping_ops_with_values) for
    * the mappings recorded at `path` (`mappings`, `steps[1].mappings`):
    * each op carries its pipe-start `input`, the rendered
    * `pipe_value`/`args`, the per-stage `pipe_steps` transition, and as
    * `output` the value the mapping writes — null when its `when` gate
    * closed. A gate that raised records no outcome: no `when` claim, and
    * the computed value stays beside the skipped write. */
  def mappingOps(mappings: Seq[Mapping], run: Engine.Traced, path: String,
      stepIndex: Int): ArrayNode = {
    val ops = mapper.createArrayNode()
    mappings.zipWithIndex.foreach { case (m, i) =>
      def value(what: String): JsonNode =
        recorded(run, s"$path[$i].$what").getOrElse(mapper.nullNode())
      val op = mapper.createObjectNode()
      op.put("id", s"op-$stepIndex-$i")
      op.put("kind", "op")
      op.put("label", m.target.mkString("."))
      op.put("status", "ok")
      val args = mapper.createObjectNode()
      args.put("target", m.target.mkString("."))
      args.set[JsonNode]("expr", renderExpr(m.expr))
      m.when.foreach(c => args.set[JsonNode]("when", renderCond(c)))
      m.castTo.foreach(t => args.put("type", t))
      if (m.required) args.put("required", true)
      m.default.foreach(d => args.set[JsonNode]("default", jvalueToNode(d)))
      op.set[JsonNode]("args", args)
      val labels = m.expr match {
        case EPipe(start, steps) =>
          op.set[JsonNode]("pipe_value", renderExpr(m.expr))
          startLabel(start) +: steps.map(stepLabel)
        case e => Seq(soloLabel(e))
      }
      op.set[JsonNode]("input", value("pipe[0]"))
      val gate = recorded(run, s"$path[$i].when").map(_.asBoolean)
      op.set[JsonNode]("output",
        if (gate.contains(false)) mapper.nullNode() else value("out"))
      val pipeSteps = mapper.createArrayNode()
      labels.zipWithIndex.foreach { case (label, k) =>
        val ps = mapper.createObjectNode()
        ps.put("index", k)
        ps.put("label", label)
        ps.set[JsonNode]("input",
          if (k == 0) mapper.nullNode() else value(s"pipe[${k - 1}]"))
        ps.set[JsonNode]("output", value(s"pipe[$k]"))
        pipeSteps.add(ps)
      }
      op.set[JsonNode]("pipe_steps", pipeSteps)
      val meta = mapper.createObjectNode(); meta.put("op", "mapping")
      gate.foreach(f => meta.put("when", f))
      op.set[JsonNode]("meta", meta)
      ops.add(op)
    }
    ops
  }

  /** The `child_trace` of a NETWORK rule step (reference
    * build_network_nodes_with_timing: endpoint_engine.rs:2870): one
    * "network" node whose op children describe the declared call —
    * request (method/url/headers), body expr or body_map ops (from the
    * traced body_map run) or body_rule ref, select path, retry policy.
    * These are the RULE's declared shapes, not live wire captures — the
    * reference renders the same static view. */
  def networkTrace(name: String, refPath: String,
      spec: EndpointModel.NetworkSpec, input: JsonNode,
      output: Option[JsonNode], bodyMapRun: Option[Engine.Traced],
      durationUs: Long): ObjectNode = {
    val children = mapper.createArrayNode()
    def op(id: String, label: String)(fill: ObjectNode => Unit): Unit = {
      val o = mapper.createObjectNode()
      o.put("id", id); o.put("kind", "op"); o.put("label", label)
      o.put("status", "ok")
      val meta = mapper.createObjectNode(); meta.put("op", label)
      o.set[JsonNode]("meta", meta)
      fill(o)
      children.add(o)
    }
    op("op-request", "request") { o =>
      val args = mapper.createObjectNode()
      args.put("method", spec.method)
      args.set[JsonNode]("url", renderExpr(spec.url))
      if (spec.headers.nonEmpty) {
        val hs = mapper.createObjectNode()
        spec.headers.foreach { case (k, v) => hs.put(k, v) }
        args.set[JsonNode]("headers", hs)
      }
      o.set[JsonNode]("args", args)
      ()
    }
    spec.body.foreach { b =>
      op("op-body", "body") { o =>
        val args = mapper.createObjectNode()
        args.set[JsonNode]("expr", renderExpr(b))
        o.set[JsonNode]("args", args)
        ()
      }
    }
    bodyMapRun.foreach(run =>
      mappingOps(spec.bodyMap, run, "mappings", 0).forEach(n => { children.add(n); () }))
    spec.bodyRule.foreach(_ => op("op-body-rule", "body_rule")(_ => ()))
    spec.select.foreach { tokens =>
      op("op-select", "select") { o =>
        val args = mapper.createObjectNode()
        args.put("path", tokens.map {
          case graft.rules.PathParser.PKey(k) => k
          case graft.rules.PathParser.PIdx(i) => i.toString
        }.mkString("."))
        o.set[JsonNode]("args", args)
        ()
      }
    }
    spec.retry.foreach { r =>
      op("op-retry", "retry") { o =>
        val args = mapper.createObjectNode()
        args.put("max", r.max)
        args.put("backoff", r.backoff)
        args.put("initial_delay_ms", r.initialDelayMs)
        o.set[JsonNode]("args", args)
        ()
      }
    }
    val node = mapper.createObjectNode()
    node.put("id", "step-0")
    node.put("kind", "network")
    node.put("label", "request")
    node.put("status", "ok")
    node.put("duration_us", durationUs)
    spec.bodyRule.foreach { rp =>
      val meta = mapper.createObjectNode()
      meta.put("rule_ref", rp)
      meta.put("rule_ref_label", "body_rule")
      node.set[JsonNode]("meta", meta)
    }
    node.set[JsonNode]("children", children)
    val nodes = mapper.createArrayNode(); nodes.add(node)
    traceDoc(childDoc(), "network", name, refPath, 2, "ok", input, output, nodes,
      Some(durationUs), None)
  }

  /** One stage node of a record's trace: its input and, unless skipped,
    * its output and the op children it ran. */
  def stageNode(id: String, kind: String, label: String, status: String,
      stageInput: JsonNode, output: Option[JsonNode], ops: => ArrayNode): ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("id", id)
    node.put("kind", kind)
    node.put("label", label)
    node.put("status", status)
    node.set[JsonNode]("input", stageInput.deepCopy[JsonNode]())
    node.set[JsonNode]("output", output.getOrElse(mapper.nullNode()))
    if (status == "ok") {
      val children = ops
      if (children.size() > 0) node.set[JsonNode]("children", children)
    }
    node
  }

  /** A fresh `child_trace` document, holding only its id. */
  private def childDoc(): ObjectNode =
    mapper.createObjectNode().put("trace_id", s"child-${traceSeq.incrementAndGet()}")

  /** The trace document shape, set on `doc`: rule header, one record and
    * the reference's summary block. A served request that failed carries
    * its `error` on the record and counts it failed; a run that failed
    * leaves no child trace, so no child record failed. */
  def traceDoc(doc: ObjectNode, kind: String, name: String, refPath: String,
      version: Int, status: String, input: JsonNode, output: Option[JsonNode],
      nodes: ArrayNode, durationUs: Option[Long], error: Option[JsonNode]): ObjectNode = {
    val record = mapper.createObjectNode()
    record.put("index", 0)
    record.put("status", status)
    durationUs.foreach(d => record.put("duration_us", d))
    record.set[JsonNode]("input", input.deepCopy[JsonNode]())
    record.set[JsonNode]("output",
      output.map(_.deepCopy[JsonNode]()).getOrElse(mapper.nullNode()))
    record.set[JsonNode]("nodes", nodes)
    error.foreach(e => record.set[JsonNode]("error", e.deepCopy[JsonNode]()))
    val ruleObj = mapper.createObjectNode()
    ruleObj.put("type", kind)
    ruleObj.put("name", name)
    ruleObj.put("path", refPath)
    ruleObj.put("version", version)
    doc.set[JsonNode]("rule", ruleObj)
    val records = mapper.createArrayNode(); records.add(record)
    doc.set[JsonNode]("records", records)
    val summary = mapper.createObjectNode()
    summary.put("record_total", 1)
    summary.put("record_success", if (status == "ok") 1 else 0)
    summary.put("record_failed", if (error.isDefined) 1 else 0)
    durationUs.foreach(d => summary.put("duration_us", d))
    doc.set[JsonNode]("summary", summary)
    doc
  }

  // -- expr rendering (trace display form, v2-flavored) --------------------

  private def scopeName(s: RefScope): String = s match {
    case RInput => "@input"
    case RContext => "@context"
    case ROut => "@out"
    case RItem => "@item"
    case RItemIndex => "@item.index"
    case RAcc => "@acc"
    case RPipe => "$"
    case RVar(name) => s"@$name"
  }

  private def refString(scope: RefScope, path: Seq[String]): String =
    if (path.isEmpty) scopeName(scope)
    else s"${scopeName(scope)}.${path.mkString(".")}"

  def renderExpr(e: Expr): JsonNode = e match {
    case ELit(v) => jvalueToNode(v)
    case ERef(scope, path) => mapper.getNodeFactory.textNode(refString(scope, path))
    case EOp(op, args) =>
      val o = mapper.createObjectNode()
      val arr = mapper.createArrayNode()
      args.foreach(a => arr.add(renderExpr(a)))
      o.set[JsonNode](op, arr)
      o
    case EPipe(start, steps) =>
      val arr = mapper.createArrayNode()
      arr.add(renderExpr(start))
      steps.foreach(s => arr.add(renderStep(s)))
      arr
    case ECond(c) => renderCond(c)
  }

  private def renderStep(s: PipeStep): JsonNode = s match {
    case SOp(op, args) =>
      if (args.isEmpty) mapper.getNodeFactory.textNode(op)
      else {
        val o = mapper.createObjectNode()
        val arr = mapper.createArrayNode()
        args.foreach(a => arr.add(renderExpr(a)))
        o.set[JsonNode](op, arr)
        o
      }
    case SLet(bindings) =>
      val o = mapper.createObjectNode()
      val b = mapper.createObjectNode()
      bindings.foreach { case (n, e) => b.set[JsonNode](n, renderExpr(e)) }
      o.set[JsonNode]("let", b)
      o
    case SIf(cond, thenPipe, elsePipe) =>
      val o = mapper.createObjectNode()
      o.set[JsonNode]("if", renderCond(cond))
      thenPipe.foreach(t => o.set[JsonNode]("then", renderExpr(t)))
      elsePipe.foreach(t => o.set[JsonNode]("else", renderExpr(t)))
      o
    case SMap(body) =>
      val o = mapper.createObjectNode()
      o.set[JsonNode]("map", renderExpr(body))
      o
    case SValue(e) => renderExpr(e)
  }

  def renderCond(c: Cond): JsonNode = c match {
    case CAll(cs) => condList("all", cs)
    case CAny(cs) => condList("any", cs)
    case CNot(c0) =>
      val o = mapper.createObjectNode(); o.set[JsonNode]("not", renderCond(c0)); o
    case CEq(l, r) => condPair("eq", l, r)
    case CNe(l, r) => condPair("ne", l, r)
    case CGt(l, r) => condPair("gt", l, r)
    case CGte(l, r) => condPair("gte", l, r)
    case CLt(l, r) => condPair("lt", l, r)
    case CLte(l, r) => condPair("lte", l, r)
    case CMatch(l, pattern) =>
      val o = mapper.createObjectNode()
      val arr = mapper.createArrayNode()
      arr.add(renderExpr(l)); arr.add(pattern)
      o.set[JsonNode]("match", arr)
      o
    case CExpr(e) => renderExpr(e)
  }

  private def condList(name: String, cs: Seq[Cond]): JsonNode = {
    val o = mapper.createObjectNode()
    val arr = mapper.createArrayNode()
    cs.foreach(c => arr.add(renderCond(c)))
    o.set[JsonNode](name, arr)
    o
  }

  private def condPair(name: String, l: Expr, r: Expr): JsonNode = {
    val o = mapper.createObjectNode()
    val arr = mapper.createArrayNode()
    arr.add(renderExpr(l)); arr.add(renderExpr(r))
    o.set[JsonNode](name, arr)
    o
  }

  private def startLabel(e: Expr): String = e match {
    case ERef(scope, path) => refString(scope, path)
    case ELit(_) => "value"
    case EOp(op, _) => op
    case EPipe(_, _) => "pipe"
    case ECond(_) => "cond"
  }

  private def stepLabel(s: PipeStep): String = s match {
    case SOp(op, _) => op
    case SLet(_) => "let"
    case SIf(_, _, _) => "if"
    case SMap(_) => "map"
    case SValue(ERef(scope, path)) => refString(scope, path)
    case SValue(_) => "value"
  }

  private def soloLabel(e: Expr): String = e match {
    case ERef(_, _) => "source"
    case ELit(_) => "value"
    case _ => "expr"
  }
}
