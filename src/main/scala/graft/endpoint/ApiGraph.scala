package graft.endpoint

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.rules.ExprCompiler.jvalueToNode
import graft.rules.Model._

/** The rules-directory dependency graph served at `/internal/api-graph`
  * (reference rulemorph_server/src/api_graph.rs): one node per YAML rule
  * file — kind endpoint / network / normal / missing — with a per-node op
  * summary, and deduplicated edges for endpoint→step, network→body_rule,
  * and normal→branch(then/else) references. */
object ApiGraph {

  private val mapper = new ObjectMapper()

  final case class Op(label: String, detail: Option[String], refs: Seq[String])
  final case class Node(id: String, label: String, kind: String, path: String, ops: Seq[Op])
  final case class Edge(source: String, target: String, label: Option[String], kind: String)

  def buildJson(dataDir: Path): String = {
    val (nodes, edges) = build(dataDir)
    val root = mapper.createObjectNode()
    val ns: ArrayNode = mapper.createArrayNode()
    nodes.foreach { n =>
      val o = mapper.createObjectNode()
      o.put("id", n.id); o.put("label", n.label); o.put("kind", n.kind)
      o.put("path", n.path)
      val ops = mapper.createArrayNode()
      n.ops.foreach { op =>
        val oo = mapper.createObjectNode()
        oo.put("label", op.label)
        op.detail.foreach(oo.put("detail", _))
        if (op.refs.nonEmpty) {
          val rr = mapper.createArrayNode()
          op.refs.foreach(rr.add)
          oo.set[JsonNode]("refs", rr)
        }
        ops.add(oo)
      }
      o.set[JsonNode]("ops", ops)
      ns.add(o)
    }
    val es: ArrayNode = mapper.createArrayNode()
    edges.foreach { e =>
      val o = mapper.createObjectNode()
      o.put("source", e.source); o.put("target", e.target)
      e.label.foreach(o.put("label", _))
      o.put("kind", e.kind)
      es.add(o)
    }
    root.set[JsonNode]("nodes", ns)
    root.set[JsonNode]("edges", es)
    mapper.writeValueAsString(root)
  }

  def build(dataDir: Path): (Seq[Node], Seq[Edge]) = {
    val base = dataDir.normalize()
    val nodes = scala.collection.mutable.LinkedHashMap.empty[String, Node]
    val edges = scala.collection.mutable.LinkedHashMap.empty[String, Edge]

    def ruleId(p: Path): String = {
      val n = p.normalize()
      (if (n.startsWith(base)) base.relativize(n) else n).toString.replace('\\', '/')
    }
    def ruleLabel(p: Path): String =
      p.getFileName.toString.replaceAll("\\.(ya?ml)$", "")
    def resolve(fromFile: Path, ref: String): Path = {
      val rp = java.nio.file.Paths.get(ref)
      (if (rp.isAbsolute) rp
       else Option(fromFile.getParent).getOrElse(base).resolve(rp)).normalize()
    }
    def placeholder(p: Path): String = {
      val id = ruleId(p)
      if (!nodes.contains(id))
        nodes(id) = Node(id, s"missing · ${ruleLabel(p)}", "missing", id, Nil)
      id
    }
    def pushEdge(source: String, target: String, label: Option[String], kind: String): Unit = {
      val key = s"$source::$target::${label.getOrElse("")}"
      if (!edges.contains(key)) edges(key) = Edge(source, target, label, kind)
    }

    val yamlFiles =
      if (!Files.isDirectory(base)) Nil
      else {
        val stream = Files.walk(base)
        try stream.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            (p.toString.endsWith(".yaml") || p.toString.endsWith(".yml")))
          .toVector.sortBy(_.toString)
        finally stream.close()
      }

    for (p <- yamlFiles) {
      val parsed =
        try Some(EndpointModel.parseRuleKind(Files.readString(p)))
        catch { case NonFatal(_) => None }
      parsed.foreach {
        case EndpointModel.EndpointRule(spec) =>
          val id = ruleId(p)
          nodes(id) = Node(id, s"endpoint · ${ruleLabel(p)}", "endpoint", id,
            spec.endpoints.map { ep =>
              Op(s"${ep.method} ${pathString(ep.path)}",
                Some(s"steps: ${ep.steps.size}"),
                ep.steps.map(s => ruleId(resolve(p, s.rulePath))))
            })
          for (ep <- spec.endpoints; step <- ep.steps) {
            val target = placeholderIfAbsent(nodes, ruleId, placeholder,
              resolve(p, step.rulePath))
            pushEdge(id, target, Some(s"${ep.method} ${pathString(ep.path)}"), "endpoint")
          }
        case EndpointModel.NetworkRule(spec) =>
          val id = ruleId(p)
          val urlJson = exprDetail(spec.url)
          val ops = Seq.newBuilder[Op]
          ops += Op("request", Some(s"${spec.method} $urlJson"), Nil)
          spec.bodyRule.foreach { br =>
            ops += Op("body_rule", Some(br), Seq(ruleId(resolve(p, br))))
          }
          nodes(id) = Node(id, s"network · ${ruleLabel(p)}", "network", id, ops.result())
          spec.bodyRule.foreach { br =>
            val target = placeholderIfAbsent(nodes, ruleId, placeholder, resolve(p, br))
            pushEdge(id, target, Some("body_rule"), "ref")
          }
        case EndpointModel.NormalRule(rule) =>
          val id = ruleId(p)
          nodes(id) = Node(id, s"normal · ${ruleLabel(p)}", "normal", id,
            normalOps(rule, rp => ruleId(resolve(p, rp))))
          rule.steps.foreach {
            case StepBranch(_, thenPath, elsePath, _) =>
              val thenId = placeholderIfAbsent(nodes, ruleId, placeholder, resolve(p, thenPath))
              pushEdge(id, thenId, Some("branch: then"), "branch")
              elsePath.foreach { ep =>
                val elseId = placeholderIfAbsent(nodes, ruleId, placeholder, resolve(p, ep))
                pushEdge(id, elseId, Some("branch: else"), "branch")
              }
            case _ => ()
          }
      }
    }
    (nodes.values.toSeq, edges.values.toSeq)
  }

  private def placeholderIfAbsent(nodes: scala.collection.mutable.LinkedHashMap[String, Node],
      ruleId: Path => String, placeholder: Path => String, p: Path): String = {
    val id = ruleId(p)
    if (!nodes.contains(id)) placeholder(p) else id
  }

  private def pathString(p: EndpointModel.EndpointPath): String =
    "/" + p.segments.map {
      case EndpointModel.SegLit(v) => v
      case EndpointModel.SegParam(n) => s"{$n}"
    }.mkString("/")

  /** Per-mapping / step / finalize op summaries (api_graph.rs normal_ops):
    * a mapping contributes one op per expression step, prefixed by its
    * target (and step prefix inside steps). */
  private def normalOps(rule: RuleFile, refId: String => String): Seq[Op] = {
    val ops = Seq.newBuilder[Op]
    def mappingOps(prefix: Option[String], ms: Seq[Mapping]): Unit = ms.foreach { m =>
      val name = prefix.fold(m.target.mkString("."))(pf => s"$pf/${m.target.mkString(".")}")
      m.expr match {
        case ERef(_, _) =>
          ops += Op(s"$name · source", Some(exprDetail(m.expr)), Nil)
        case ELit(v) =>
          ops += Op(s"$name · value", Some(jsonOf(v)), Nil)
        case e =>
          exprSteps(e).foreach(step => ops += Op(s"$name · $step", None, Nil))
      }
    }
    mappingOps(None, rule.mappings)
    rule.steps.zipWithIndex.foreach {
      case (StepMappings(ms), _) => mappingOps(Some("step"), ms)
      case (StepBranch(_, thenPath, elsePath, _), _) =>
        ops += Op("step · branch", Some(s"then: $thenPath"),
          refId(thenPath) +: elsePath.map(refId).toSeq)
      case _ => ()
    }
    rule.finalizeSpec.foreach { f =>
      val parts = Seq(
        f.filter.map(_ => "filter"), f.sort.map(_ => "sort"),
        f.limit.map(_ => "limit"), f.offset.map(_ => "offset"),
        if (f.wrap.nonEmpty) Some("wrap") else None).flatten
      ops += Op("finalize",
        Some(if (parts.isEmpty) "enabled" else parts.mkString(", ")), Nil)
    }
    ops.result()
  }

  /** One label per pipe/chain step (api_graph.rs expr_step_label). */
  private def exprSteps(e: Expr): Seq[String] = e match {
    case EPipe(start, steps) =>
      stepLabel(start) +: steps.map {
        case SOp(op, args) => if (args.isEmpty) op else s"$op(...)"
        case SLet(_) => "let"
        case SIf(_, _, _) => "if"
        case SMap(_) => "map"
        case SValue(v) => stepLabel(v)
      }
    case other => Seq(stepLabel(other))
  }

  private def stepLabel(e: Expr): String = e match {
    case ERef(scope, path) => s"ref ${refString(scope, path)}"
    case EOp(op, args) => if (args.isEmpty) op else s"$op(...)"
    case ELit(_) => "literal"
    case EPipe(_, _) => "chain"
    case ECond(_) => "condition"
  }

  private def refString(scope: RefScope, path: Seq[String]): String = {
    val ns = scope match {
      case RInput => "input"; case RContext => "context"; case ROut => "out"
      case RItem => "item"; case RItemIndex => "item_index"; case RAcc => "acc"
      case RPipe => "$"; case RVar(n) => n
    }
    (ns +: path).mkString(".")
  }

  private def exprDetail(e: Expr): String = e match {
    case ELit(v) => jsonOf(v)
    case ERef(scope, path) => s""""@${refString(scope, path)}""""
    case other => stepLabel(other)
  }

  private def jsonOf(v: JValue): String = mapper.writeValueAsString(jvalueToNode(v))
}
