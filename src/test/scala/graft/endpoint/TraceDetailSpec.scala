package graft.endpoint

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.rules.Engine
import graft.sources.Sources
import EndpointModel.NormalRule

/** Reference-shaped rich traces from the endpoint engine (reference
  * endpoint_engine.rs build_rule_nodes_from_rule:2355 /
  * build_mapping_ops_with_values:2975 / build_pipe_steps:3160): a handled
  * request's trace carries records[0].nodes — endpoint step nodes with a
  * recursive child_trace of each executed rule, per-step meta
  * (record_when / asserts_ok / branch_taken), and per-mapping op children
  * with input / pipe_value / args / output and the per-stage pipe_steps
  * transition the UI's OP-result view renders. The flat steps[] stays
  * beside it (engine vocabulary, consumed by McpSpec/CliSpec). */
class TraceDetailSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private var dir: Path = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("trace_detail_spec")
    Files.writeString(dir.resolve("shape.yaml"),
      """version: 2
        |mappings:
        |  - target: name
        |    expr: ["@input.name", trim, uppercase]
        |  - target: greeting
        |    expr: [lit:hello]
        |""".stripMargin)
    Files.writeString(dir.resolve("staged.yaml"),
      """version: 2
        |steps:
        |  - record_when:
        |      gt: ["@input.n", 0]
        |  - mappings:
        |      - target: doubled
        |        expr: ["@input.n", {multiply: [2]}]
        |  - branch:
        |      when:
        |        gt: ["@out.doubled", 5]
        |      then: ./big.yaml
        |      else: ./small.yaml
        |""".stripMargin)
    Files.writeString(dir.resolve("big.yaml"),
      """version: 2
        |mappings:
        |  - target: size
        |    expr: [lit:big]
        |""".stripMargin)
    Files.writeString(dir.resolve("small.yaml"),
      """version: 2
        |mappings:
        |  - target: size
        |    expr: [lit:small]
        |""".stripMargin)
    Files.writeString(dir.resolve("endpoint.yaml"),
      """type: endpoint
        |endpoints:
        |  - method: POST
        |    path: /shape
        |    input:
        |      - target: name
        |        expr: ["@input.body.name"]
        |      - target: n
        |        expr: ["@input.body.n"]
        |    steps:
        |      - rule: ./shape.yaml
        |    reply:
        |      status: [lit:200]
        |      body: ["@input"]
        |  - method: POST
        |    path: /staged
        |    input:
        |      - target: n
        |        expr: ["@input.body.n"]
        |    steps:
        |      - rule: ./staged.yaml
        |    reply:
        |      status: [lit:200]
        |      body: ["@input"]
        |  - method: POST
        |    path: /checked
        |    input:
        |      - target: n
        |        expr: ["@input.body.n"]
        |    steps:
        |      - rule: ./checked.yaml
        |    reply:
        |      status: [lit:200]
        |      body: ["@input"]
        |""".stripMargin)
    Files.writeString(dir.resolve("checked.yaml"),
      """version: 2
        |steps:
        |  - mappings:
        |      - target: n
        |        expr: ["@input.n"]
        |  - asserts:
        |      - when: { gt: ["@out.n", 10] }
        |        error: { code: N_TOO_SMALL, message: n must exceed 10 }
        |""".stripMargin)
  }

  private def lastTrace(engine: EndpointEngine): JsonNode =
    engine.traces.list().last

  /** One traced run of `rule` over `input` — the values TraceDetail renders. */
  private def traced(rule: graft.rules.Model.RuleFile, input: JsonNode): Engine.Traced =
    Engine.toJsonRecordsTraced(rule, Sources.jsonNode(spark, input, Nil),
      graft.rules.Model.JNull, nullAsMissing = true, Engine.fileLoader(dir.toString))

  test("request trace carries records[0].nodes beside the flat steps[]") {
    val engine = new EndpointEngine(spark, dir.resolve("endpoint.yaml").toString)
    val res = engine.handle("POST", "/shape", "", Nil,
      Some("""{"name":"  ada  ","n":1}"""))
    assert(res.status == 200)
    val t = lastTrace(engine)
    assert(t.get("steps").size() == 1)                       // flat shape kept
    assert(t.get("rule").get("type").asText == "endpoint")
    assert(t.get("rule").get("name").asText == "POST /shape")
    assert(t.get("summary").get("record_total").asInt == 1)
    val rec = t.get("records").get(0)
    assert(rec.get("status").asText == "ok")
    assert(rec.get("input").get("body").get("name").asText == "  ada  ")
    val nodes = rec.get("nodes")
    // node 0: the input-mapping stage with per-mapping op children
    val inputNode = nodes.get(0)
    assert(inputNode.get("id").asText == "input")
    val inOps = inputNode.get("children")
    assert(inOps.get(0).get("label").asText == "name")
    assert(inOps.get(0).get("output").asText == "  ada  ")
    // node 1: the rule step, with rule_ref meta and a child_trace
    val stepNode = nodes.get(1)
    assert(stepNode.get("meta").get("rule_ref").asText == "./shape.yaml")
    assert(stepNode.get("status").asText == "ok")
    val child = stepNode.get("child_trace")
    assert(child.get("rule").get("type").asText == "normal")
    assert(child.get("rule").get("path").asText == "./shape.yaml")
    assert(child.get("records").get(0).get("output").get("name").asText == "ADA")
  }

  test("mapping ops carry pipe_value, args, and the per-stage pipe_steps") {
    val engine = new EndpointEngine(spark, dir.resolve("endpoint.yaml").toString)
    engine.handle("POST", "/shape", "", Nil, Some("""{"name":"  ada  ","n":1}"""))
    val child = lastTrace(engine).get("records").get(0).get("nodes").get(1)
      .get("child_trace")
    val ops = child.get("records").get(0).get("nodes").get(0).get("children")
    val op0 = ops.get(0)
    assert(op0.get("kind").asText == "op")
    assert(op0.get("label").asText == "name")
    assert(op0.get("args").get("target").asText == "name")
    assert(op0.get("pipe_value").isArray)                // rendered v2 pipe
    assert(op0.get("meta").get("op").asText == "mapping")
    // pipe_steps: @input.name -> trim -> uppercase, each stage's in/out
    val steps = op0.get("pipe_steps")
    assert(steps.size() == 3)
    assert(steps.get(0).get("label").asText == "@input.name")
    assert(steps.get(0).get("output").asText == "  ada  ")
    assert(steps.get(1).get("label").asText == "trim")
    assert(steps.get(1).get("input").asText == "  ada  ")
    assert(steps.get(1).get("output").asText == "ada")
    assert(steps.get(2).get("label").asText == "uppercase")
    assert(steps.get(2).get("output").asText == "ADA")
    assert(op0.get("input").asText == "  ada  ")
    assert(op0.get("output").asText == "ADA")
    // literal mapping: single "value" stage
    val op1 = ops.get(1)
    assert(op1.get("label").asText == "greeting")
    assert(op1.get("output").asText == "hello")
  }

  test("staged rule: step kinds, record_when/branch meta, branch child_trace") {
    val engine = new EndpointEngine(spark, dir.resolve("endpoint.yaml").toString)
    engine.handle("POST", "/staged", "", Nil, Some("""{"n":4}"""))
    val child = lastTrace(engine).get("records").get(0).get("nodes").get(1)
      .get("child_trace")
    val nodes = child.get("records").get(0).get("nodes")
    assert(nodes.get(0).get("kind").asText == "record_when")
    assert(nodes.get(0).get("meta").get("record_when").asBoolean)
    assert(nodes.get(1).get("kind").asText == "mappings")
    val mapOps = nodes.get(1).get("children")
    assert(mapOps.get(0).get("label").asText == "doubled")
    assert(mapOps.get(0).get("output").asLong == 8L)
    val branch = nodes.get(2)
    assert(branch.get("kind").asText == "branch")
    assert(branch.get("meta").get("branch_taken").asText == "then")
    assert(branch.get("meta").get("rule_ref").asText == "./big.yaml")
    val branchChild = branch.get("child_trace")
    assert(branchChild.get("rule").get("name").asText == "big.yaml")
    assert(branchChild.get("records").get(0).get("nodes").get(0)
      .get("children").get(0).get("output").asText == "big")
  }

  test("network rule step carries a network child_trace with declared op children") {
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val api = HttpServer.create(new InetSocketAddress(0), 0)
    api.createContext("/", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val bytes = """{"data":{"plan":"pro"}}""".getBytes("UTF-8")
        x.getResponseHeaders.add("content-type", "application/json")
        x.sendResponseHeaders(200, bytes.length)
        x.getResponseBody.write(bytes)
        x.close()
      }
    })
    api.start()
    try {
      val port = api.getAddress.getPort
      Files.writeString(dir.resolve("fetch.yaml"),
        s"""type: network
           |request:
           |  method: GET
           |  url:
           |    - "lit:http://127.0.0.1:$port/plan"
           |timeout: 5s
           |select: data
           |retry:
           |  max: 2
           |  backoff: fixed
           |  initial_delay_ms: 10
           |""".stripMargin)
      Files.writeString(dir.resolve("net_endpoint.yaml"),
        """type: endpoint
          |endpoints:
          |  - method: GET
          |    path: /plan
          |    steps:
          |      - rule: ./fetch.yaml
          |    reply:
          |      status: [lit:200]
          |      body: ["@input"]
          |""".stripMargin)
      val engine = new EndpointEngine(spark, dir.resolve("net_endpoint.yaml").toString)
      val res = engine.handle("GET", "/plan", "", Nil, None)
      assert(res.status == 200)
      val stepNode = lastTrace(engine).get("records").get(0).get("nodes").get(0)
      val child = stepNode.get("child_trace")
      assert(child.get("rule").get("type").asText == "network")
      val net = child.get("records").get(0).get("nodes").get(0)
      assert(net.get("kind").asText == "network")
      val ops = net.get("children")
      val labels = (0 until ops.size()).map(i => ops.get(i).get("label").asText)
      assert(labels == Seq("request", "select", "retry"))
      assert(ops.get(0).get("args").get("method").asText == "GET")
      assert(ops.get(1).get("args").get("path").asText == "data")
      assert(ops.get(2).get("args").get("max").asInt == 2)
      assert(child.get("records").get(0).get("output").get("plan").asText == "pro")
    } finally api.stop(0)
  }

  test("top-level mappings feed step probes: branch on @out.x takes the real path") {
    Files.writeString(dir.resolve("mixed.yaml"),
      """version: 2
        |mappings:
        |  - target: x
        |    expr: ["@input.n"]
        |steps:
        |  - branch:
        |      when:
        |        gt: ["@out.x", 5]
        |      then: ./big.yaml
        |      else: ./small.yaml
        |""".stripMargin)
    val detail = new TraceDetail
    val rule = EndpointModel.parseRuleKind(
      Files.readString(dir.resolve("mixed.yaml"))) match {
      case NormalRule(r) => r; case _ => fail("not a normal rule")
    }
    val input = mapper.readTree("""{"n": 9}""")
    val (nodes, status) = detail.ruleNodes(rule, input, traced(rule, input))
    assert(status == "ok")
    // the top-level mappings surface as their own node, BEFORE the steps
    assert(nodes.get(0).get("kind").asText == "mapping")
    assert(nodes.get(0).get("output").get("x").asLong == 9L)
    val branch = nodes.get(1)
    assert(branch.get("kind").asText == "branch")
    // the probe sees @out.x = 9 (round-10 review fix: the step-0 out
    // scope was previously {} and the taken branch reported "none")
    assert(branch.get("meta").get("branch_taken").asText == "then")
    assert(branch.get("meta").get("rule_ref").asText == "./big.yaml")
    assert(branch.has("child_trace"))
  }

  test("false `when` skips the probe @out write like the real engine") {
    Files.writeString(dir.resolve("gated.yaml"),
      """version: 2
        |mappings:
        |  - target: x
        |    when: { eq: ["@input.mode", "a"] }
        |    expr: [lit:xx]
        |  - target: y
        |    expr: ["@out.x"]
        |""".stripMargin)
    val detail = new TraceDetail
    val rule = EndpointModel.parseRuleKind(
      Files.readString(dir.resolve("gated.yaml"))) match {
      case NormalRule(r) => r; case _ => fail("not a normal rule")
    }
    val input = mapper.readTree("""{"mode": "b"}""")
    val ops = detail.mappingOps(rule.mappings, traced(rule, input), "mappings", 0)
    val op0 = ops.get(0)
    assert(!op0.get("meta").get("when").asBoolean)   // gate reported closed
    assert(op0.get("output").isNull)                 // value never produced
    // the second mapping reads @out.x — which the real engine never wrote
    assert(ops.get(1).get("output").isNull)
  }

  test("a FAILED when-probe keeps the probed output — never a false output:null claim") {
    // the when raises (a number does not cast to bool), which the engine
    // catches: the mapping is skipped with a warning and the gate's outcome
    // is unknown, NOT false. The op must keep the expr's computed value and
    // make no when claim — only a gate that RESOLVED false may render the
    // affirmative output:null
    Files.writeString(dir.resolve("failgate.yaml"),
      """version: 2
        |mappings:
        |  - target: x
        |    when: { eq: [["@input.n", bool], true] }
        |    expr: [lit:xx]
        |  - target: y
        |    expr: ["@out.x"]
        |""".stripMargin)
    val detail = new TraceDetail
    val rule = EndpointModel.parseRuleKind(
      Files.readString(dir.resolve("failgate.yaml"))) match {
      case NormalRule(r) => r; case _ => fail("not a normal rule")
    }
    val input = mapper.readTree("""{"n": 4}""")
    val ops = detail.mappingOps(rule.mappings, traced(rule, input), "mappings", 0)
    val op0 = ops.get(0)
    assert(!op0.get("meta").has("when"),
      "a failed probe must not claim a gate state")
    assert(op0.get("output").asText == "xx",
      s"failed probe keeps the probed value, got ${op0.get("output")}")
    // the write is still skipped conservatively: the NEXT op's @out.x
    // reads as missing, matching the real engine's skip-and-warn
    assert(ops.get(1).get("output").isNull)
  }

  test("a detail-on request runs the same Spark jobs as detail off, same reply") {
    // the trace values ride the rule's own plans: capture adds no job
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val yaml = dir.resolve("endpoint.yaml").toString
    val on = new EndpointEngine(spark, yaml)
    val off = new EndpointEngine(spark, yaml, traceDetail = false)
    def counted(engine: EndpointEngine, path: String, body: String)
        : (EndpointEngine.HttpResult, Int) = {
      org.apache.spark.sql.rmbridge.Bridge.drainListenerBus(spark.sparkContext)
      val before = jobs.get()
      val res = engine.handle("POST", path, "", Nil, Some(body))
      org.apache.spark.sql.rmbridge.Bridge.drainListenerBus(spark.sparkContext)
      (res, jobs.get() - before)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((path, body) <- Seq("/shape" -> """{"name":"  ada  ","n":1}""",
          "/staged" -> """{"n":4}""")) {
        val (resOn, jobsOn) = counted(on, path, body)
        val (resOff, jobsOff) = counted(off, path, body)
        assert(resOn.status == 200 && resOn == resOff, s"$path: $resOn vs $resOff")
        assert(jobsOn == jobsOff, s"$path: detail on ran $jobsOn jobs, off $jobsOff")
        assert(lastTrace(on).has("records") && !lastTrace(off).has("records"))
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a failing assert: the step node is an error without a child_trace") {
    val on = new EndpointEngine(spark, dir.resolve("endpoint.yaml").toString)
    val off = new EndpointEngine(spark, dir.resolve("endpoint.yaml").toString,
      traceDetail = false)
    val res = on.handle("POST", "/checked", "", Nil, Some("""{"n":4}"""))
    assert(res.status == 500)
    assert(res == off.handle("POST", "/checked", "", Nil, Some("""{"n":4}""")))
    val stepNode = lastTrace(on).get("records").get(0).get("nodes").get(1)
    assert(stepNode.get("meta").get("rule_ref").asText == "./checked.yaml")
    assert(stepNode.get("status").asText == "error")
    assert(stepNode.get("error").get("message").asText.contains("N_TOO_SMALL"))
    assert(!stepNode.has("child_trace"))
  }

  test("traceDetail=false keeps the flat trace only") {
    val engine = new EndpointEngine(spark, dir.resolve("endpoint.yaml").toString,
      traceDetail = false)
    engine.handle("POST", "/shape", "", Nil, Some("""{"name":"x","n":1}"""))
    val t = lastTrace(engine)
    assert(t.get("steps").size() == 1)
    assert(!t.has("records"))
  }

  test("Server.start plumbs traceDetail=false through to served traces") {
    // the deployment path: the flag reaches the engine via the server
    // constructor (no JVM property), so a latency-sensitive service can
    // disable the per-request probe jobs at construction time
    val server = Server.start(spark, dir.resolve("endpoint.yaml").toString, 0,
      traceDetail = false)
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      val post = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port/shape"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"name":"x","n":1}"""))
        .build()
      assert(client.send(post,
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      val list = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port/__graft/traces"))
        .GET().build()
      val traces = mapper.readTree(
        client.send(list, java.net.http.HttpResponse.BodyHandlers.ofString()).body())
      assert(traces.size() >= 1)
      val id = traces.get(0).get("id").asText()
      val one = java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port/__graft/traces/$id"))
        .GET().build()
      val t = mapper.readTree(
        client.send(one, java.net.http.HttpResponse.BodyHandlers.ofString()).body())
      assert(t.has("steps") && !t.has("records"),
        s"served trace must stay flat under traceDetail=false: $t")
    } finally server.stop(0)
  }
}
