package graft.endpoint

import java.net.InetSocketAddress

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

/** Minimal HTTP server over [[EndpointEngine]] (reference
  * rulemorph_server/src/server.rs:50-64 re-expressed on the JDK's built-in
  * HttpServer — no framework dependency): every path routes through the
  * engine's endpoint matching, plus an admin surface at
  * `/__graft/traces[/{id}]` reading the trace store. */
object Server {

  def start(spark: SparkSession, endpointYaml: String, port: Int,
      internalBase: String = "",
      // rich trace capture: the same jobs per request, with the trace
      // values recorded in the rule's own plan; false (the CLI's
      // --no-trace-detail) keeps the flat trace and the untraced plans
      traceDetail: Boolean = true): HttpServer = {
    val engine = new EndpointEngine(spark, endpointYaml,
      if (internalBase.nonEmpty) internalBase else s"http://127.0.0.1:$port",
      traceDetail = traceDetail)
    // loopback-only, matching the reference server's 127.0.0.1 bind —
    // the trace admin surface and rule-driven transforms must not be
    // exposed on the wildcard address
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        try {
          val path = x.getRequestURI.getPath
          val result: EndpointEngine.HttpResult =
            if (path == "/__graft/traces") {
              val body = engine.traces.listJson
              EndpointEngine.HttpResult(200, Seq("content-type" -> "application/json"), body)
            } else if (path.startsWith("/__graft/traces/")) {
              val id = path.stripPrefix("/__graft/traces/")
              engine.traces.get(id) match {
                case Some(t) =>
                  EndpointEngine.HttpResult(200, Seq("content-type" -> "application/json"), t.toString)
                case None =>
                  EndpointEngine.HttpResult(404, Seq("content-type" -> "application/json"),
                    """{"error":"trace not found"}""")
              }
            } else {
              val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
              val headers = x.getRequestHeaders.entrySet.asScala.toSeq.flatMap { e =>
                e.getValue.asScala.map(v => e.getKey -> v)
              }
              engine.handle(x.getRequestMethod, path,
                Option(x.getRequestURI.getRawQuery).getOrElse(""),
                headers, if (body.isEmpty) None else Some(body))
            }
          result.headers.foreach { case (k, v) => x.getResponseHeaders.add(k, v) }
          val bytes = result.body.getBytes("UTF-8")
          x.sendResponseHeaders(result.status, if (bytes.isEmpty) -1 else bytes.length)
          if (bytes.nonEmpty) x.getResponseBody.write(bytes)
        } finally x.close()
      }
    })
    server.start()
    server
  }
}
