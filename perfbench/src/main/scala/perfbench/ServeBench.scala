package perfbench

import java.net.{HttpURLConnection, InetSocketAddress, URI}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.endpoint.{EndpointEngine, Server}

/** Requests, one at a time from one client, against `Server.start` on
  * loopback with rich trace detail off, as a latency-sensitive deployment
  * runs it (with it on, each request costs several probe jobs). There are
  * three kinds: a quote through a rule pipeline (an input mapping, then two
  * rule steps, the first with `record_when`, the second with an `if`
  * branch), and two through an endpoint whose `network` step calls a fake
  * upstream in this process, one for a known user and one for an unknown
  * user, whose 404 takes the `catch` route. The traced run also sends the
  * same requests through an engine with trace detail on, to measure
  * `TraceDetail`.
  *
  * The server handles one request at a time, in about 0.3-0.9 s on a 4-vCPU
  * VM. An open loop below that rate would time only a handful of requests
  * per run, and its queueing multiplies every slowdown of the host, so no
  * steady median comes out of a run of the benchmark's length.
  *
  * Threads on the client side: the calling thread and the upstream's one
  * dispatcher thread. */
object ServeBench {
  val Kinds: Seq[String] = Seq("quote", "user", "user_missing")

  private val files: Seq[(String, String)] = Seq(
    "price.yaml" ->
      """version: 2
        |input: { format: json, json: {} }
        |record_when: { gte: ["@input.qty", 1] }
        |mappings:
        |  - target: total
        |    expr: ["@input.qty", multiply: [2.5]]
        |""".stripMargin,
    "label.yaml" ->
      """version: 2
        |input: { format: json, json: {} }
        |mappings:
        |  - target: label
        |    expr:
        |      - "@input.total"
        |      - if:
        |          cond: { gte: ["$", 25] }
        |          then: "bulk"
        |          else: "retail"
        |""".stripMargin,
    "fetch_user.yaml" ->
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
        |""".stripMargin,
    "not_found.yaml" ->
      """version: 2
        |input: { format: json, json: {} }
        |mappings:
        |  - target: found
        |    value: false
        |  - target: error_status
        |    source: context.error.status
        |""".stripMargin,
    "endpoints.yaml" ->
      """version: 2
        |type: endpoint
        |endpoints:
        |  - method: GET
        |    path: /quote/{sku}
        |    input:
        |      - target: qty
        |        source: input.query.qty
        |        type: int
        |    steps:
        |      - rule: ./price.yaml
        |      - rule: ./label.yaml
        |    reply:
        |      status: 200
        |      body: "@input"
        |  - method: GET
        |    path: /users/{id}
        |    input:
        |      - target: user_id
        |        source: input.path.id
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
        |""".stripMargin)

  /** One request of kind `kind` with the response it must get. */
  final case class Req(kind: String, path: String, query: String, status: Int, body: ObjectNode)

  /** The requests of a run, kinds in turn; the seed picks the values. */
  def requests(seed: Long): Iterator[Req] = {
    val rnd = Seeded(seed)
    val m = TransformGen.mapper
    Iterator.from(0).map { i =>
      val body = m.createObjectNode()
      Kinds(i % Kinds.size) match {
        case k @ "quote" =>
          val sku = s"sku-${rnd.nextInt(10000)}"
          val qty = 1 + rnd.nextInt(20)
          val total = qty * 2.5
          body.put("label", if (total >= 25) "bulk" else "retail")
          Req(k, s"/quote/$sku", s"qty=$qty", 200, body)
        case k @ "user" =>
          val id = 7 * rnd.nextInt(70) + 1 + rnd.nextInt(6)
          body.put("id", id); body.put("name", s"user-$id"); body.put("plan", plan(id))
          Req(k, s"/users/$id", "", 200, body)
        case k =>
          val id = 7 * (1 + rnd.nextInt(70))
          body.put("found", false); body.put("error_status", 404)
          Req(k, s"/users/$id", "", 404, body)
      }
    }
  }

  private def plan(id: Int) = if (id % 3 == 0) "pro" else "free"

  /** The fake upstream: `/users/{id}`, 404 for every seventh id. */
  private def upstream(calls: AtomicLong): HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.createContext("/", (x: HttpExchange) => {
      calls.incrementAndGet()
      val id = x.getRequestURI.getPath.stripPrefix("/users/").toInt
      val (status, body) =
        if (id % 7 == 0) (404, """{"error":"not found"}""")
        else (200, s"""{"data":{"id":$id,"name":"user-$id","plan":"${plan(id)}"}}""")
      val bytes = body.getBytes("UTF-8")
      x.getResponseHeaders.add("content-type", "application/json")
      x.sendResponseHeaders(status, bytes.length)
      x.getResponseBody.write(bytes)
      x.close()
    })
    s.start()
    s
  }

  final case class Reply(status: Int, body: String)

  def get(base: String, req: Req): Reply = {
    val c = URI.create(s"$base${req.path}${if (req.query.isEmpty) "" else "?" + req.query}")
      .toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000); c.setReadTimeout(60000)
    val status = c.getResponseCode
    val stream = if (status >= 400) c.getErrorStream else c.getInputStream
    val body = if (stream == null) "" else try new String(stream.readAllBytes(), "UTF-8") finally stream.close()
    Reply(status, body)
  }

  def matches(req: Req, status: Int, body: String): Boolean =
    status == req.status && {
      val got = try TransformGen.mapper.readTree(body) catch { case _: Exception => null }
      got != null && JsonEq(got, req.body)
    }

  def open(r: Run): Part = new Part {
    private val dir = Files.createDirectories(r.work.resolve("serve"))
    files.foreach { case (n, text) => Files.writeString(dir.resolve(n), text) }
    private val endpoints = dir.resolve("endpoints.yaml").toString
    private val upstreamCalls = new AtomicLong()
    private val up = upstream(upstreamCalls)
    private val upBase = s"http://127.0.0.1:${up.getAddress.getPort}"
    private val server =
      try Server.start(r.spark, endpoints, 0, internalBase = upBase, traceDetail = false)
      catch { case e: Throwable => up.stop(0); throw e }
    private val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    private val reqs = requests(r.seed)
    private val sent = mutable.ArrayBuffer.empty[Req]

    // warm-up: two rounds of every kind, seeded apart from the timed ones
    try requests(-1 - r.seed).take(2 * Kinds.size).foreach { q =>
      val rep = get(base, q)
      require(matches(q, rep.status, rep.body), s"warm-up ${q.path} got ${rep.status} ${rep.body}")
    } catch { case e: Throwable => close(); throw e }
    private val traceCount0 = traceList(base).size
    private val calls0 = upstreamCalls.get

    def kinds: Seq[String] = Kinds

    def op(i: Int, k: Int): Op = {
      val q = reqs.next()
      sent += q
      val (rep, took) = r.timed(i, q.kind) {
        try Right(if (r.traced) r.tracer.span("server.roundtrip")(get(base, q)) else get(base, q))
        catch { case NonFatal(e) => Left(e) }
      }
      rep.left.foreach(e => System.err.println(s"serve: ${q.path} failed: $e"))
      Op(q.kind, took, rep.exists(p => matches(q, p.status, p.body)), 1)
    }

    def layers(counters: Map[String, Double], n: Double): Map[String, Double] = {
      val nReq = math.max(1, sent.size).toDouble
      // the server handles the requests one at a time, in the order they
      // were sent, so its trace list lines up with the round trips
      val handleMs = traceList(base).drop(traceCount0).map(_.path("duration_us").asDouble / 1000.0)
      val trips = r.tracer.all.filter(_.name == "server.roundtrip").sortBy(_.startNs)
      trips.zip(handleMs).foreach { case (t, h) =>
        r.tracer.record(t.op, t.id, "endpoint.handle", t.endNs - (h * 1e6).toLong, t.endNs)
      }
      // the server's jobs carry no job group: the requests started every
      // job that no span of this thread started
      val grouped = counters.collect { case (k, v) if k.startsWith("jobs_in.") && k != "jobs_in." => v }.sum
      val self = Tracer.selfMsByName(r.tracer.all)
      Map(
        "endpoint.handle_ms" -> handleMs.sum / math.max(1, handleMs.size),
        "server.overhead_ms" -> self.getOrElse("server.roundtrip", 0.0) / nReq,
        "endpoint.jobs_per_request" -> (counters.getOrElse("spark.jobs", 0.0) - grouped) / nReq,
        "endpoint.upstream_calls" -> (upstreamCalls.get - calls0) / nReq,
        "endpoint.handle_detail_ms" -> detailHandleMs(r, endpoints, upBase, sent.take(3 * Kinds.size).toSeq))
    }

    override def close(): Unit = {
      server.stop(0)
      up.stop(0)
    }
  }

  private def traceList(base: String): Seq[JsonNode] = {
    import scala.jdk.CollectionConverters._
    TransformGen.mapper.readTree(get(base, Req("traces", "/__graft/traces", "", 200, null)).body)
      .elements.asScala.toSeq
  }

  /** Mean handle time of the same requests, in order, through an engine
    * with rich trace detail on (`TraceDetail`'s probes), called directly. */
  private def detailHandleMs(r: Run, endpoints: String, upBase: String, reqs: Seq[Req]): Double = {
    val engine = new EndpointEngine(r.spark, endpoints, upBase, traceDetail = true)
    def handle(q: Req) = {
      val t0 = System.nanoTime()
      val res = engine.handle("GET", q.path, q.query, Nil, None)
      require(matches(q, res.status, res.body), s"traced ${q.path} got ${res.status} ${res.body}")
      (System.nanoTime() - t0) / 1e6
    }
    requests(-2 - r.seed).take(2 * Kinds.size).foreach(handle)
    reqs.map(handle).sum / math.max(1, reqs.size)
  }
}
