package graft.endpoint

import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The `ui` server surface (reference rulemorph_server): /internal/traces
  * list/get, bundle import, the api-graph, /api routing through the
  * rules dir, static UI assets with SPA fallback, and the SSE stream. */
class UiServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private var dataDir: Path = _
  private var uiDir: Path = _
  private var server: com.sun.net.httpserver.HttpServer = _
  private var port: Int = 0

  override def beforeAll(): Unit = {
    dataDir = Files.createTempDirectory("ui_data")
    uiDir = Files.createTempDirectory("ui_assets")
    Files.createDirectories(dataDir.resolve("traces"))
    val rulesDir = dataDir.resolve("api_rules")
    Files.createDirectories(rulesDir)

    Files.writeString(dataDir.resolve("traces/t1.json"),
      """{"trace_id":"t1","status":"success","timestamp":"2026-08-12T10:00:00Z",
        | "duration_us": 1200,
        | "rule": {"name":"shape","type":"normal","version":2},
        | "summary": {"record_total":1,"record_success":1,"record_failed":0},
        | "steps": [{"rule":"shape.yaml","status":"success"}]}""".stripMargin)
    Files.writeString(dataDir.resolve("traces/t2.json"),
      """{"trace_id":"t2","status":"error","timestamp":"2026-08-12T11:00:00Z"}""")

    Files.writeString(rulesDir.resolve("shape.yaml"),
      """version: 2
        |mappings:
        |  - target: name
        |    expr: ["@input.name", trim, uppercase]
        |""".stripMargin)
    Files.writeString(rulesDir.resolve("endpoint.yaml"),
      """type: endpoint
        |endpoints:
        |  - method: POST
        |    path: /shape
        |    input:
        |      - target: name
        |        expr: ["@input.body.name"]
        |    steps:
        |      - rule: ./shape.yaml
        |    reply:
        |      status: [lit:200]
        |      body: ["@input"]
        |""".stripMargin)
    Files.writeString(rulesDir.resolve("fetch.yaml"),
      """type: network
        |request:
        |  method: POST
        |  url: ["lit:http://127.0.0.1:9/none"]
        |timeout: 1s
        |body_rule: ./shape.yaml
        |""".stripMargin)

    Files.writeString(uiDir.resolve("index.html"), "<html>rulemorph ui</html>")
    Files.writeString(uiDir.resolve("app.js"), "console.log('ui')")

    server = UiServer.start(spark, UiServer.Config(
      port = 0, dataDir = dataDir, uiDir = Some(uiDir),
      rulesDir = Some(rulesDir), apiMode = "rules", uiEnabled = true))
    port = server.getAddress.getPort
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  private def http(method: String, path: String, body: Option[String] = None)
      : (Int, String, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes("UTF-8"))
    }
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (stream == null) "" else new String(stream.readAllBytes(), "UTF-8")
    (status, text, Option(conn.getHeaderField("content-type")).getOrElse(""))
  }

  test("traces list is newest-first with meta fields") {
    val (status, body, _) = http("GET", "/internal/traces")
    assert(status == 200)
    val traces = mapper.readTree(body).get("traces")
    assert(traces.size == 2)
    assert(traces.get(0).get("trace_id").asText == "t2") // 11:00 > 10:00
    assert(traces.get(1).get("trace_id").asText == "t1")
    assert(traces.get(1).get("duration_us").asLong == 1200L)
    assert(traces.get(1).get("summary").get("record_total").asLong == 1L)
  }

  test("trace by id wraps the document; unknown id is a 404") {
    val (status, body, _) = http("GET", "/internal/traces/t1")
    assert(status == 200)
    val t = mapper.readTree(body).get("trace")
    assert(t.get("trace_id").asText == "t1")
    assert(t.get("steps").get(0).get("rule").asText == "shape.yaml")
    val (missing, err, _) = http("GET", "/internal/traces/nope")
    assert(missing == 404 && err.contains("trace not found"))
  }

  test("api-graph has endpoint/network/normal nodes and step/body_rule edges") {
    val (status, body, _) = http("GET", "/internal/api-graph")
    assert(status == 200)
    val g = mapper.readTree(body)
    val kinds = g.get("nodes").elements()
    val byId = new scala.collection.mutable.HashMap[String, String]
    kinds.forEachRemaining(n => byId(n.get("id").asText) = n.get("kind").asText)
    assert(byId("api_rules/endpoint.yaml") == "endpoint")
    assert(byId("api_rules/fetch.yaml") == "network")
    assert(byId("api_rules/shape.yaml") == "normal")
    var sawStep = false; var sawBody = false
    g.get("edges").elements().forEachRemaining { e =>
      if (e.get("kind").asText == "endpoint" &&
          e.get("target").asText == "api_rules/shape.yaml") sawStep = true
      if (e.get("kind").asText == "ref" &&
          e.get("label").asText == "body_rule") sawBody = true
    }
    assert(sawStep && sawBody)
  }

  test("/api/* routes through the rules-dir endpoint engine and leaves a trace") {
    val (status, body, _) = http("POST", "/api/shape", Some("""{"name":"  ada "}"""))
    assert(status == 200)
    assert(mapper.readTree(body).get("name").asText == "ADA")
    val (nf, err, _) = http("GET", "/api/nothing-here")
    assert(nf == 404 && err.contains("no endpoint matched"))
    // the request's trace is persisted into the data dir and served by
    // the internal trace API (the reference's shared data-dir store)
    val (ts, tl, _) = http("GET", "/internal/traces")
    assert(ts == 200)
    val traces = mapper.readTree(tl).get("traces").elements()
    var apiId: Option[String] = None
    traces.forEachRemaining { t =>
      if (t.get("trace_id").asText.startsWith("trace-"))
        apiId = Some(t.get("trace_id").asText)
    }
    assert(apiId.isDefined, s"expected a persisted /api trace in: $tl")
    // the persisted trace is the RICH shape the UI's deep views render:
    // records[0].nodes with a child_trace per executed rule whose mapping
    // ops carry the per-stage pipe_steps transition
    val (ds, db, _) = http("GET", s"/internal/traces/${apiId.get}")
    assert(ds == 200)
    val doc = mapper.readTree(db).get("trace")
    assert(doc.get("rule").get("type").asText == "endpoint")
    val nodes = doc.get("records").get(0).get("nodes")
    assert(nodes.size() >= 1)
    val stepNode = nodes.get(nodes.size() - 1)
    assert(stepNode.get("meta").get("rule_ref").asText == "./shape.yaml")
    val ops = stepNode.get("child_trace").get("records").get(0)
      .get("nodes").get(0).get("children")
    assert(ops.get(0).get("label").asText == "name")
    val steps = ops.get(0).get("pipe_steps")
    assert(steps.size() == 3)                              // ref, trim, uppercase
    assert(steps.get(2).get("output").asText == "ADA")
  }

  test("bundle import copies traces and rules then reports counts") {
    val bundle = Files.createTempDirectory("ui_bundle")
    Files.createDirectories(bundle.resolve("traces"))
    Files.createDirectories(bundle.resolve("rules"))
    Files.writeString(bundle.resolve("traces/t3.json"),
      """{"trace_id":"t3","status":"success","timestamp":"2026-08-12T12:00:00Z"}""")
    Files.writeString(bundle.resolve("rules/extra.yaml"), "version: 2\nmappings: []\n")
    val bundleJson = mapper.writeValueAsString(
      mapper.getNodeFactory.textNode(bundle.toString))
    val (status, body, _) = http("POST", "/internal/import",
      Some(s"""{"bundle_path":$bundleJson}"""))
    assert(status == 200)
    val r = mapper.readTree(body)
    assert(r.get("imported").asInt == 1)
    assert(r.get("trace_ids").get(0).asText == "t3")
    assert(r.get("rules_imported").asInt == 1)
    // t3 is now indexed (other tests may have persisted /api traces too,
    // so check membership rather than an exact count)
    val (s2, l2, _) = http("GET", "/internal/traces")
    assert(s2 == 200)
    val ids = scala.collection.mutable.Set.empty[String]
    mapper.readTree(l2).get("traces").elements()
      .forEachRemaining(t => ids += t.get("trace_id").asText)
    assert(Set("t1", "t2", "t3").subsetOf(ids), s"got $ids")
  }

  test("static UI serves assets and falls back to index.html for SPA routes") {
    val (s1, b1, ct1) = http("GET", "/")
    assert(s1 == 200 && b1.contains("rulemorph ui") && ct1.startsWith("text/html"))
    val (s2, b2, ct2) = http("GET", "/app.js")
    assert(s2 == 200 && b2.contains("console.log") && ct2 == "text/javascript")
    val (s3, b3, _) = http("GET", "/some/spa/route")
    assert(s3 == 200 && b3.contains("rulemorph ui"))
  }

  test("without --ui-dir the built-in bundle renders the trace UI out of the box") {
    // a second server over the same data dir, no user ui dir
    val bundled = UiServer.start(spark, UiServer.Config(
      port = 0, dataDir = dataDir, uiDir = None,
      rulesDir = None, apiMode = "ui-only", uiEnabled = true))
    val bp = bundled.getAddress.getPort
    def get(path: String): (Int, String, String) = {
      val conn = URI.create(s"http://127.0.0.1:$bp$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val text = if (stream == null) "" else new String(stream.readAllBytes(), "UTF-8")
      (status, text, Option(conn.getHeaderField("content-type")).getOrElse(""))
    }
    try {
      val (s1, b1, ct1) = get("/")
      assert(s1 == 200 && ct1.startsWith("text/html"))
      // the page is wired to the live internal APIs this server serves
      assert(b1.contains("/internal/traces"))
      assert(b1.contains("/internal/api-graph"))
      assert(b1.contains("/internal/stream"))
      // SPA fallback works for the bundle too
      val (s2, b2, _) = get("/some/spa/route")
      assert(s2 == 200 && b2.contains("/internal/traces"))
      // and the trace data the page fetches is really there (>= the two
      // seeded traces; earlier tests may have imported more)
      val (s3, b3, _) = get("/internal/traces")
      assert(s3 == 200 && mapper.readTree(b3).get("traces").size >= 2)
    } finally bundled.stop(0)
  }

  test("bundled UI ships the full trace-app surface the fixtures feed") {
    // the bundle is vanilla JS fetching at runtime, so the spec pins the
    // contract from both sides: the app machinery exists in the served
    // page (overview graph walk incl. child_trace recursion and branch
    // filtering, op-chain expansion, record navigation, the inspector
    // drawer sections, the persisted unit toggle, api-graph view, SSE
    // live refresh), and the fixture trace the store serves carries the
    // fields that machinery consumes
    val in = getClass.getResourceAsStream("/graft/ui/index.html")
    val html = new String(in.readAllBytes(), "UTF-8"); in.close()
    for (marker <- Seq("buildTraceGraph", "buildApiGraph", "child_trace",
        "branch_taken", "ruleOps", "recordIndex", "renderInspector",
        "record_when", "asserts_ok", "duration_us", "raw json", "filter",
        "localStorage", "EventSource", "api-graph", "inspector",
        "shouldResetInitialCenter", "apiExpanded", "rule_refs"))
      assert(html.contains(marker), s"bundle lost its '$marker' machinery")
    val (s, body, _) = http("GET", "/internal/traces/t1")
    assert(s == 200)
    val t = mapper.readTree(body).get("trace")
    assert(t.get("status").asText == "success")          // status chip
    assert(t.get("duration_us").asLong == 1200L)         // header timing
    assert(t.get("summary").get("record_total").asLong == 1L) // summary block
    assert(t.get("steps").get(0).get("rule").asText == "shape.yaml") // op chain
  }

  test("bundled UI renders FileTraceStore fixtures and the api-graph end to end") {
    // real render-path check: a dedicated server over reference-shaped
    // (records/nodes/child_trace) and flat engine-shaped (steps[])
    // fixtures, driven by the served page's own script under node (DOM
    // stubbed, fetch real) — trace graph construction, expansion, record
    // navigation, inspector, and the api-graph view all run against the
    // live /internal APIs
    val nodeOk =
      try new ProcessBuilder("node", "--version").start().waitFor() == 0
      catch { case _: Exception => false }
    assume(nodeOk, "node runtime unavailable")
    val dir2 = Files.createTempDirectory("ui_render")
    Files.createDirectories(dir2.resolve("traces"))
    val rules2 = dir2.resolve("api_rules")
    Files.createDirectories(rules2)
    Files.writeString(rules2.resolve("shape.yaml"),
      """version: 2
        |mappings:
        |  - target: name
        |    expr: ["@input.name", trim, uppercase]
        |""".stripMargin)
    // upstream stub for the network rule — the /combo endpoint's fetch
    // target, so the persisted trace is a REAL branch-with-network-call
    // document produced by the live engine (not a hand-written fixture)
    val stub = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    stub.createContext("/", new com.sun.net.httpserver.HttpHandler {
      override def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
        val bytes = """{"data":{"tier":"gold"}}""".getBytes("UTF-8")
        x.getResponseHeaders.add("content-type", "application/json")
        x.sendResponseHeaders(200, bytes.length)
        x.getResponseBody.write(bytes); x.close()
      }
    })
    stub.start()
    Files.writeString(rules2.resolve("staged.yaml"),
      """version: 2
        |steps:
        |  - mappings:
        |      - target: doubled
        |        expr: ["@input.n", {multiply: [2]}]
        |  - branch:
        |      when:
        |        gt: ["@out.doubled", 5]
        |      then: ./big.yaml
        |      else: ./small.yaml
        |""".stripMargin)
    Files.writeString(rules2.resolve("big.yaml"),
      """version: 2
        |mappings:
        |  - target: size
        |    expr: [lit:big]
        |""".stripMargin)
    Files.writeString(rules2.resolve("small.yaml"),
      """version: 2
        |mappings:
        |  - target: size
        |    expr: [lit:small]
        |""".stripMargin)
    Files.writeString(rules2.resolve("fetch2.yaml"),
      s"""version: 2
         |type: network
         |request:
         |  method: GET
         |  url: ["lit:http://127.0.0.1:${stub.getAddress.getPort}/info"]
         |timeout: 5s
         |select: "data"
         |""".stripMargin)
    Files.writeString(rules2.resolve("endpoint.yaml"),
      """type: endpoint
        |endpoints:
        |  - method: POST
        |    path: /shape
        |    steps:
        |      - rule: ./shape.yaml
        |    reply:
        |      status: [lit:200]
        |      body: ["@input"]
        |  - method: POST
        |    path: /combo
        |    input:
        |      - target: n
        |        source: "input.body.n"
        |        type: "int"
        |    steps:
        |      - rule: ./staged.yaml
        |      - rule: ./fetch2.yaml
        |    reply:
        |      status: [lit:200]
        |      body: ["@input"]
        |""".stripMargin)
    Files.writeString(dir2.resolve("traces/t-nested.json"),
      """{"trace_id":"t-nested","status":"error","timestamp":"2026-08-12T10:05:00Z","duration_us":5300,
        | "rule":{"name":"orders-endpoint","path":"rules/orders.yaml","type":"endpoint"},
        | "summary":{"record_total":2,"record_success":1,"record_failed":1},
        | "records":[
        |   {"index":0,"status":"success","duration_us":2100,"nodes":[
        |     {"kind":"map","label":"shape input","status":"success","duration_us":400,
        |      "input":{"order":1},"output":{"order":1,"ok":true},
        |      "meta":{"rule_ref":"rules/shape.yaml"},
        |      "child_trace":{"trace_id":"t-shape","status":"success","duration_us":900,
        |        "rule":{"name":"shape","path":"rules/shape.yaml","type":"normal"},
        |        "records":[{"index":0,"status":"success","nodes":[
        |          {"kind":"op","label":"trim name","status":"success","duration_us":120,
        |           "input":" a ","output":"a",
        |           "pipe_value":["@input.name","trim"],
        |           "args":{"target":"name","expr":["@input.name","trim"]},
        |           "pipe_steps":[
        |             {"index":0,"label":"@input.name","input":null,"output":" a "},
        |             {"index":1,"label":"trim","input":" a ","output":"a"}]},
        |          {"kind":"op","label":"uppercase","status":"success","duration_us":80}
        |        ]}]}},
        |     {"kind":"branch","label":"vip?","status":"success","duration_us":60,
        |      "meta":{"branch_taken":"then","rule_ref":"rules/vip.yaml",
        |              "then_rule":"rules/vip.yaml","else_rule":"rules/std.yaml"}}
        |   ]},
        |   {"index":1,"status":"error","duration_us":3200,
        |    "error":{"kind":"Transform","message":"bad record"},
        |    "nodes":[
        |     {"kind":"map","label":"shape input","status":"error","duration_us":300,
        |      "error":{"message":"missing field: order"},
        |      "meta":{"rule_ref":"rules/shape.yaml","record_when":true,"asserts_ok":false}}
        |   ]}
        | ]}""".stripMargin)
    Files.writeString(dir2.resolve("traces/t-flat.json"),
      """{"trace_id":"t-flat","status":"success","timestamp":"2026-08-12T09:00:00Z","duration_us":1200,
        | "method":"POST","path":"/shape","http_status":200,
        | "rule":{"name":"shape-endpoint","path":"rules/endpoint.yaml","type":"endpoint"},
        | "input":{"body":{"name":"x"}},
        | "steps":[{"rule":"rules/shape.yaml","status":"ok","duration_us":800},
        |          {"rule":"rules/enrich.yaml","status":"skipped","duration_us":3}]}""".stripMargin)
    val srv = UiServer.start(spark, UiServer.Config(port = 0, dataDir = dir2,
      uiDir = None, rulesDir = Some(rules2), apiMode = "rules", uiEnabled = true))
    try {
      // drive the real engine once: the persisted trace is the rich
      // branch-with-network-call document the harness renders through
      // every view mode (trace overview -> expanded detail -> raw JSON ->
      // api graph navigation -> back)
      val conn = URI.create(
          s"http://127.0.0.1:${srv.getAddress.getPort}/api/combo").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write("""{"n": 4}""".getBytes("UTF-8"))
      val comboStatus = conn.getResponseCode
      val comboBody = {
        val s = if (comboStatus >= 400) conn.getErrorStream else conn.getInputStream
        if (s == null) "" else new String(s.readAllBytes(), "UTF-8")
      }
      assert(comboStatus == 200, comboBody)
      // the persisted document IS the branch-with-network-call shape the
      // view modes render — asserted here so the contract holds even
      // where the node-driven render phase below is skipped
      locally {
        def get(path: String): String = {
          val c = URI.create(
              s"http://127.0.0.1:${srv.getAddress.getPort}$path").toURL
            .openConnection().asInstanceOf[HttpURLConnection]
          new String(c.getInputStream.readAllBytes(), "UTF-8")
        }
        val list = mapper.readTree(get("/internal/traces")).get("traces")
        var cid = ""
        list.elements().forEachRemaining { t =>
          if (t.get("trace_id").asText.startsWith("trace-"))
            cid = t.get("trace_id").asText
        }
        assert(cid.nonEmpty, "combo trace not persisted")
        val doc = mapper.readTree(get(s"/internal/traces/$cid")).get("trace")
        val nodes = doc.get("records").get(0).get("nodes")
        val staged = nodes.get(1)
        val branch = staged.get("child_trace").get("records").get(0)
          .get("nodes").get(1)
        assert(branch.get("kind").asText == "branch")
        assert(branch.get("meta").get("branch_taken").asText == "then")
        assert(branch.get("child_trace").get("rule").get("name").asText == "big.yaml")
        val net = nodes.get(2)
        val netNode = net.get("child_trace").get("records").get(0)
          .get("nodes").get(0)
        assert(netNode.get("kind").asText == "network")
        val kids = netNode.get("children")
        assert(kids.get(0).get("label").asText == "request" &&
          kids.get(1).get("label").asText == "select")
      }
      val harness = Files.createTempFile("ui_harness", ".mjs")
      val hIn = getClass.getResourceAsStream("/graft/ui_harness.mjs")
      Files.write(harness, hIn.readAllBytes()); hIn.close()
      val pb = new ProcessBuilder("node", harness.toString)
      pb.environment().put("UI_BASE", s"http://127.0.0.1:${srv.getAddress.getPort}")
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      val code = proc.waitFor()
      assert(code == 0 && out.contains("ALL PASS") && !out.contains("FAIL "),
        s"ui render harness failed:\n$out")
    } finally { srv.stop(0); stub.stop(0) }
  }

  test("SSE stream sends the initial traces event") {
    val conn = URI.create(s"http://127.0.0.1:$port/internal/stream").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setReadTimeout(5000)
    assert(conn.getResponseCode == 200)
    assert(conn.getHeaderField("content-type").startsWith("text/event-stream"))
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
    assert(in.readLine() == "event: traces")
    assert(in.readLine() == "data: connected")
    conn.disconnect()
  }
}
