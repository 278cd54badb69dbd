package graft.endpoint

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Endpoint + network rule semantics per the reference specs
  * (docs/rules_spec_endpoint_ja.md, rules_spec_network_ja.md) and
  * endpoint_engine.rs: @input construction, input mappings, step chaining
  * with when/with/catch, reply status exprs, finalize array responses,
  * network calls with select / retry / timeout catch, and traces. */
class EndpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val mapper = new ObjectMapper()

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private var dir: Path = _
  private var api: HttpServer = _
  private var apiPort: Int = 0
  private val slowCalls = new AtomicInteger()

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("endpoint_spec")
    api = HttpServer.create(new InetSocketAddress(0), 0)
    // concurrent handling: timed-out requests must not serialize behind the
    // sleeping handler, or the retry-attempt count stalls
    api.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    apiPort = api.getAddress.getPort
    api.createContext("/", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val path = x.getRequestURI.getPath
        def reply(status: Int, body: String): Unit = {
          val bytes = body.getBytes("UTF-8")
          x.getResponseHeaders.add("content-type", "application/json")
          x.sendResponseHeaders(status, bytes.length)
          x.getResponseBody.write(bytes)
          x.close()
        }
        path match {
          case p if p.startsWith("/users/") =>
            val id = p.stripPrefix("/users/")
            if (id == "404") reply(404, """{"error":"not found"}""")
            else reply(200, s"""{"data":{"id":$id,"name":"user-$id","plan":"pro"}}""")
          case "/slow" =>
            slowCalls.incrementAndGet()
            Thread.sleep(500)
            reply(200, """{"ok":true}""")
          case "/echo" =>
            val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
            reply(200, s"""{"echo":$body}""")
          case _ => reply(404, """{"error":"unknown"}""")
        }
      }
    })
    api.start()
    writeFixtures()
  }

  override def afterAll(): Unit = {
    if (api != null) api.stop(0)
  }

  private def write(name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  private def writeFixtures(): Unit = {
    // normal step rules
    write("shape.yaml",
      """version: 2
        |input: { format: json, json: {} }
        |mappings:
        |  - target: "user_id"
        |    source: "input.user_id"
        |  - target: "greeting"
        |    expr:
        |      - "lit:hello, "
        |      - concat: ["@input.name"]
        |""".stripMargin)
    write("pick_fields.yaml",
      """version: 2
        |input: { format: json, json: {} }
        |mappings:
        |  - target: "kept"
        |    expr:
        |      - "@input"
        |      - pick: ["@context.params.fields"]
        |""".stripMargin)
    write("listify.yaml",
      """version: 2
        |input: { format: json, json: {} }
        |mappings:
        |  - target: "name"
        |    source: "input.name"
        |finalize:
        |  limit: 1000
        |""".stripMargin)
    write("not_found.yaml",
      """version: 2
        |input: { format: json, json: {} }
        |mappings:
        |  - target: "found"
        |    value: false
        |  - target: "error_kind"
        |    source: "context.error.kind"
        |  - target: "error_status"
        |    source: "context.error.status"
        |""".stripMargin)
    write("timeout_catch.yaml",
      """version: 2
        |input: { format: json, json: {} }
        |mappings:
        |  - target: "timed_out"
        |    value: true
        |""".stripMargin)
    // network rules
    // pipe op-steps receive the pipe value as their implicit first arg,
    // so concat continues from the base url
    write("fetch_user.yaml",
      """version: 2
        |type: network
        |request:
        |  method: GET
        |  url:
        |    - "@context.config.internal_base"
        |    - concat: ["/users/", "@input.user_id"]
        |timeout: 5s
        |select: "data"
        |catch:
        |  404: ./not_found.yaml
        |""".stripMargin)
    write("slow_call.yaml",
      """version: 2
        |type: network
        |request:
        |  method: GET
        |  url:
        |    - "@context.config.internal_base"
        |    - concat: ["/slow"]
        |timeout: 100ms
        |retry:
        |  max: 2
        |  backoff: fixed
        |  initial_delay: 10ms
        |catch:
        |  timeout: ./timeout_catch.yaml
        |""".stripMargin)
    write("post_echo.yaml",
      """version: 2
        |type: network
        |request:
        |  method: POST
        |  url:
        |    - "@context.config.internal_base"
        |    - concat: ["/echo"]
        |timeout: 5s
        |body_map:
        |  - target: "userId"
        |    source: "input.user_id"
        |""".stripMargin)
    // the endpoint file
    write("endpoints.yaml",
      """version: 2
        |type: endpoint
        |endpoints:
        |  - method: GET
        |    path: /users/{id}
        |    input:
        |      - target: "user_id"
        |        source: "input.path.id"
        |        type: "int"
        |      - target: "name"
        |        source: "input.query.name"
        |        default: "anon"
        |      - target: "agent"
        |        source: "input.headers.x-agent"
        |        default: "none"
        |    steps:
        |      - rule: ./shape.yaml
        |    reply:
        |      status: 200
        |      body: "@input"
        |  - method: GET
        |    path: /remote/{id}
        |    input:
        |      - target: "user_id"
        |        source: "input.path.id"
        |    steps:
        |      - rule: ./fetch_user.yaml
        |    reply:
        |      status:
        |        - "@input.found"
        |        - if:
        |            cond: { eq: ["$", false] }
        |            then: 404
        |            else: 200
        |      body: "@input"
        |  - method: GET
        |    path: /slow-remote
        |    steps:
        |      - rule: ./slow_call.yaml
        |    reply:
        |      status: 200
        |      body: "@input"
        |  - method: POST
        |    path: /echo-up
        |    input:
        |      - target: "user_id"
        |        source: "input.body.user_id"
        |    steps:
        |      - rule: ./post_echo.yaml
        |    reply:
        |      status: 201
        |      body: "@input"
        |  - method: GET
        |    path: /picky
        |    input:
        |      - target: "a"
        |        value: 1
        |      - target: "b"
        |        value: 2
        |    steps:
        |      - rule: ./pick_fields.yaml
        |        with:
        |          fields: ["a"]
        |        when:
        |          eq: ["@input.a", 1]
        |      - rule: ./pick_fields.yaml
        |        with:
        |          fields: ["never"]
        |        when:
        |          eq: [1, 2]
        |    reply:
        |      status: 200
        |      body: "@input"
        |  - method: GET
        |    path: /list
        |    input:
        |      - target: "name"
        |        source: "input.query.name"
        |    steps:
        |      - rule: ./listify.yaml
        |    reply:
        |      status: 200
        |      body: "@input"
        |""".stripMargin)
  }

  private lazy val engine =
    new EndpointEngine(spark, dir.resolve("endpoints.yaml").toString,
      internalBase = s"http://127.0.0.1:$apiPort")

  test("@input carries path/query/header; input mappings reshape; step transforms") {
    val r = engine.handle("GET", "/users/41", "name=ada",
      Seq("X-Agent" -> "cli"), None)
    assert(r.status == 200, r.body)
    val body = mapper.readTree(r.body)
    assert(body.path("user_id").asInt == 41)
    assert(body.path("greeting").asText == "hello, ada")
    assert(r.headers.contains("content-type" -> "application/json"))
  }

  test("query default applies when the param is absent") {
    val r = engine.handle("GET", "/users/7", "", Nil, None)
    assert(mapper.readTree(r.body).path("greeting").asText == "hello, anon")
  }

  test("unmatched path is a 404; duplicate query param is an error") {
    assert(engine.handle("GET", "/nope", "", Nil, None).status == 404)
    val dup = engine.handle("GET", "/users/1", "name=a&name=b", Nil, None)
    assert(dup.status == 500)
    assert(dup.body.contains("duplicate query param"))
  }

  test("network step fetches, selects, and the reply status expr branches") {
    val ok = engine.handle("GET", "/remote/9", "", Nil, None)
    assert(ok.status == 200, ok.body)
    val body = mapper.readTree(ok.body)
    assert(body.path("name").asText == "user-9")
    assert(body.path("plan").asText == "pro")
  }

  test("network 404 routes through catch; reply status expr returns 404") {
    val r = engine.handle("GET", "/remote/404", "", Nil, None)
    assert(r.status == 404, r.body)
    val body = mapper.readTree(r.body)
    assert(!body.path("found").asBoolean(true))
    assert(body.path("error_kind").asText == "HttpStatus")
    assert(body.path("error_status").asInt == 404)
  }

  test("network timeout retries max times then routes to the timeout catch") {
    slowCalls.set(0)
    val r = engine.handle("GET", "/slow-remote", "", Nil, None)
    assert(r.status == 200, r.body)
    assert(mapper.readTree(r.body).path("timed_out").asBoolean)
    assert(slowCalls.get == 3) // initial attempt + 2 retries
  }

  test("network POST with body_map sends the assembled body") {
    val r = engine.handle("POST", "/echo-up", "", Nil, Some("""{"user_id": 5}"""))
    assert(r.status == 201, r.body)
    assert(mapper.readTree(r.body).path("echo").path("userId").asInt == 5)
  }

  test("step with params reach @context.params; false when skips the step") {
    val r = engine.handle("GET", "/picky", "", Nil, None)
    assert(r.status == 200, r.body)
    val body = mapper.readTree(r.body)
    // first step picked only "a"; second step skipped (when false)
    assert(body.path("kept").has("a"))
    assert(!body.path("kept").has("b"))
  }

  test("finalize in the last step yields an array response") {
    val r = engine.handle("GET", "/list", "name=x", Nil, None)
    assert(r.status == 200, r.body)
    val body = mapper.readTree(r.body)
    assert(body.isArray && body.size == 1)
    assert(body.get(0).path("name").asText == "x")
  }

  test("the HTTP server serves endpoints and the trace admin route") {
    val server = Server.start(spark, dir.resolve("endpoints.yaml").toString, 0,
      internalBase = s"http://127.0.0.1:$apiPort")
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      def get(path: String): java.net.http.HttpResponse[String] =
        client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port$path")).GET.build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
      val r = get("/users/3?name=eve")
      assert(r.statusCode == 200, r.body)
      assert(mapper.readTree(r.body).path("greeting").asText == "hello, eve")
      val traces = get("/__graft/traces")
      assert(traces.statusCode == 200)
      val arr = mapper.readTree(traces.body)
      assert(arr.isArray && arr.size >= 1)
      val id = arr.get(arr.size - 1).path("id").asText
      assert(get(s"/__graft/traces/$id").statusCode == 200)
      assert(get("/__graft/traces/nope").statusCode == 404)
    } finally server.stop(0)
  }

  test("validate-rules-dir: clean dir passes; bad refs and network catches are flagged") {
    // the directory contract expects endpoint.yaml as the entry file
    Files.copy(dir.resolve("endpoints.yaml"), dir.resolve("endpoint.yaml"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(RulesDirValidator.validate(dir).isEmpty)

    val bad = Files.createTempDirectory("rulesdir_bad")
    Files.writeString(bad.resolve("endpoint.yaml"),
      """version: 2
        |type: endpoint
        |endpoints:
        |  - method: GET
        |    path: /x
        |    steps:
        |      - rule: ./missing.yaml
        |    catch:
        |      default: ./net.yaml
        |    reply:
        |      status: 200
        |""".stripMargin)
    Files.writeString(bad.resolve("net.yaml"),
      """version: 2
        |type: network
        |request: { method: GET, url: "http://x" }
        |timeout: 1s
        |""".stripMargin)
    val errors = RulesDirValidator.validate(bad)
    assert(errors.exists(e => e.code == "FileReadFailed" && e.file.endsWith("missing.yaml")))
    assert(errors.exists(e => e.code == "InvalidCatchRule" && e.file.endsWith("net.yaml")))
    // the CLI surface: exit 2 with E lines
    val errStream = new java.io.ByteArrayOutputStream()
    val code = graft.Cli.run(Seq("validate-rules-dir", "--rules-dir", bad.toString),
      new java.io.PrintStream(new java.io.ByteArrayOutputStream(), true),
      new java.io.PrintStream(errStream, true))
    assert(code == 2)
    assert(errStream.toString.contains("E FileReadFailed"))
  }

  test("every request leaves a trace with steps and duration") {
    val before = engine.traces.list().size
    engine.handle("GET", "/users/1", "", Nil, None)
    val traces = engine.traces.list()
    assert(traces.size == before + 1)
    val t = traces.last
    assert(t.path("method").asText == "GET")
    assert(t.path("path").asText == "/users/1")
    assert(t.path("http_status").asInt == 200)
    assert(t.path("steps").size == 1)
    assert(t.path("steps").get(0).path("status").asText == "ok")
    assert(engine.traces.get(t.path("id").asText).isDefined)
  }
}
