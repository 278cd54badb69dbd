package graft.endpoint

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** ApiGraph unit semantics, mirroring the reference's api_graph.rs tests:
  * endpoint ops carry every step ref, network ops carry the body_rule
  * ref, normal-rule branch ops carry then/else refs, and finalize detail
  * lists the enabled parts. */
class ApiGraphSpec extends AnyFunSuite {

  private def graphOf(files: (String, String)*): (Seq[ApiGraph.Node], Seq[ApiGraph.Edge]) = {
    val dir = Files.createTempDirectory("api_graph_spec")
    files.foreach { case (name, text) => Files.writeString(dir.resolve(name), text) }
    ApiGraph.build(dir)
  }

  test("endpoint ops include all step refs") {
    val (nodes, _) = graphOf(
      "endpoint.yaml" ->
        """type: endpoint
          |endpoints:
          |  - method: GET
          |    path: /users/{id}
          |    steps:
          |      - rule: ./a.yaml
          |      - rule: ./b.yaml
          |    reply:
          |      status: [lit:200]
          |""".stripMargin)
    val ep = nodes.find(_.kind == "endpoint").get
    assert(ep.ops.size == 1)
    assert(ep.ops.head.label == "GET /users/{id}")
    assert(ep.ops.head.refs.toSet == Set("a.yaml", "b.yaml"))
    // unresolved step targets become missing placeholder nodes
    assert(nodes.count(_.kind == "missing") == 2)
  }

  test("network ops include the body_rule ref and the request detail") {
    val (nodes, edges) = graphOf(
      "network.yaml" ->
        """type: network
          |request:
          |  method: POST
          |  url: ["lit:https://example.com"]
          |timeout: 1s
          |body_rule: ./body.yaml
          |""".stripMargin)
    val net = nodes.find(_.kind == "network").get
    val bodyOp = net.ops.find(_.label == "body_rule").get
    assert(bodyOp.refs == Seq("body.yaml"))
    val req = net.ops.find(_.label == "request").get
    assert(req.detail.exists(_.startsWith("POST ")))
    assert(edges.exists(e => e.kind == "ref" && e.label.contains("body_rule")))
  }

  test("normal-rule branch ops carry then/else refs; finalize detail lists parts") {
    val (nodes, edges) = graphOf(
      "rule.yaml" ->
        """version: 2
          |steps:
          |  - branch:
          |      when: { eq: ["@input.kind", "a"] }
          |      then: ./then.yaml
          |      else: ./else.yaml
          |finalize:
          |  limit: 10
          |""".stripMargin)
    val normal = nodes.find(_.kind == "normal").get
    val branchOp = normal.ops.find(_.label.contains("branch")).get
    assert(branchOp.refs.toSet == Set("then.yaml", "else.yaml"))
    val fin = normal.ops.find(_.label == "finalize").get
    assert(fin.detail.contains("limit"))
    assert(edges.count(_.kind == "branch") == 2)
  }

  test("value ops show the literal's JSON text: doubles as Double.toString, strings escaped") {
    val (nodes, _) = graphOf(
      "rule.yaml" ->
        """version: 1
          |mappings:
          |  - target: half
          |    value: 0.5
          |  - target: big
          |    value: 1.5e+300
          |  - target: whole
          |    value: 100.0
          |  - target: text
          |    value: "q\"b\\s\nr/é"
          |  - target: nested
          |    value: [1, 2.25, "x\ty", {"k\"": null, "b": true}]
          |""".stripMargin)
    val details = nodes.find(_.kind == "normal").get.ops
      .map(o => o.label -> o.detail.getOrElse("")).toMap
    assert(details("half · value") == "0.5")
    assert(details("big · value") == "1.5E300")
    assert(details("whole · value") == "100.0")
    assert(details("text · value") == "\"q\\\"b\\\\s\\nr/é\"")
    assert(details("nested · value") == "[1,2.25,\"x\\ty\",{\"k\\\"\":null,\"b\":true}]")
  }
}
