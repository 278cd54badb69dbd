package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.rmbridge.Bridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.endpoint.EndpointEngine

/** Spark jobs started per call, counted by a listener. A served request
  * reads its record through [[graft.sources.Sources.jsonNode]] below the
  * local cut-over, so its rules fold into a `LocalRelation` and start no
  * job, with rich trace detail off and on. A 5,000-record CLI transform is
  * above the cut-over and keeps the distributed scan's job count. */
class JobCountSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local(4)

  private var dir: Path = _
  private var upstream: HttpServer = _

  private val jobs = new AtomicInteger()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }

  private def write(name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("job_count_spec")
    upstream = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    upstream.createContext("/", (x: HttpExchange) => {
      val bytes = """{"error":"not found"}""".getBytes("UTF-8")
      x.sendResponseHeaders(404, bytes.length)
      x.getResponseBody.write(bytes)
      x.close()
    })
    upstream.start()
    write("shape.yaml",
      """version: 2
        |mappings:
        |  - target: name
        |    expr: ["@input.name", trim, uppercase]
        |""".stripMargin)
    write("staged.yaml",
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
    write("big.yaml", "version: 2\nmappings:\n  - target: size\n    expr: [lit:big]\n")
    write("small.yaml", "version: 2\nmappings:\n  - target: size\n    expr: [lit:small]\n")
    write("fetch.yaml",
      """version: 2
        |type: network
        |request:
        |  method: GET
        |  url:
        |    - "@context.config.internal_base"
        |    - concat: ["/users/", "@input.id"]
        |timeout: 5s
        |catch:
        |  404: ./not_found.yaml
        |""".stripMargin)
    write("not_found.yaml",
      """version: 2
        |mappings:
        |  - target: found
        |    value: false
        |  - target: status
        |    source: context.error.status
        |""".stripMargin)
    write("endpoint.yaml",
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
        |      body: "@input"
        |  - method: POST
        |    path: /staged
        |    input:
        |      - target: n
        |        expr: ["@input.body.n"]
        |    steps:
        |      - rule: ./staged.yaml
        |    reply:
        |      status: [lit:200]
        |      body: "@input"
        |  - method: GET
        |    path: /users/{id}
        |    input:
        |      - target: id
        |        source: input.path.id
        |    steps:
        |      - rule: ./fetch.yaml
        |    reply:
        |      status:
        |        - "@input.found"
        |        - if:
        |            cond: { eq: ["$", false] }
        |            then: 404
        |            else: 200
        |      body: "@input"
        |""".stripMargin)
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    if (upstream != null) upstream.stop(0)
  }

  /** The result of `body` and the Spark jobs it started. */
  private def counted[T](body: => T): (T, Int) = {
    Bridge.drainListenerBus(spark.sparkContext)
    val before = jobs.get()
    val res = body
    Bridge.drainListenerBus(spark.sparkContext)
    (res, jobs.get() - before)
  }

  test("a served /shape, /staged and network + catch request starts no Spark job") {
    val internal = s"http://127.0.0.1:${upstream.getAddress.getPort}"
    val yaml = dir.resolve("endpoint.yaml").toString
    for (detail <- Seq(false, true)) {
      val engine = new EndpointEngine(spark, yaml, internal, traceDetail = detail)
      for ((method, path, body, status, reply) <- Seq(
          ("POST", "/shape", Some("""{"name":"  ada  "}"""), 200, """{"name":"ADA"}"""),
          ("POST", "/staged", Some("""{"n":4}"""), 200, """{"doubled":8.0,"size":"big"}"""),
          ("GET", "/users/7", None, 404, """{"found":false,"status":404}"""))) {
        val (res, n) = counted(engine.handle(method, path, "", Nil, body))
        assert(res.status == status && res.body == reply, s"$path, detail $detail: $res")
        assert(n == 0, s"$path, detail $detail: $n Spark jobs")
      }
    }
  }

  test("a 5,000-record CLI transform starts as many jobs as the distributed scan did") {
    val records = (1 to 5000).map(i => s"""{"id":$i,"name":"n$i","price":"$i.5"}""")
    write("records.json", records.mkString("[", ",", "]"))
    write("transform.yaml",
      """version: 1
        |input: { format: json, json: {} }
        |mappings:
        |  - target: id
        |    source: id
        |  - target: label
        |    source: name
        |  - target: price
        |    source: price
        |    type: float
        |""".stripMargin)
    val out = dir.resolve("out.json")
    val (code, n) = counted(Cli.run(Seq("transform", "-r", dir.resolve("transform.yaml").toString,
      "-i", dir.resolve("records.json").toString, "-o", out.toString),
      new PrintStream(new ByteArrayOutputStream()), new PrintStream(new ByteArrayOutputStream())))
    assert(code == 0)
    assert(Files.readString(out).contains(""""label":"n5000""""))
    assert(n == 1, s"$n Spark jobs")
  }
}
