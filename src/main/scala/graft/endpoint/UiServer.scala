package graft.endpoint

import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.functions.ScalarJson

/** The reference's `ui` server (rulemorph_server/src/server.rs): the
  * /api rules surface plus the UI's internal API —
  *
  *   - `GET  /internal/traces`       — trace metas, newest first
  *   - `GET  /internal/traces/{id}`  — `{"trace": ...}` or 404
  *   - `GET  /internal/stream`       — SSE; a `traces`/`updated` event on
  *                                     every data-dir change, 15s keepalive
  *   - `GET  /internal/api-graph`    — rules-dir dependency graph
  *   - `POST /internal/import`       — copy a bundle's traces/rules in
  *
  * and static UI assets from `ui_dir` (fallback to index.html for SPA
  * routes). Loopback-only, like the reference. `api_mode = rules` routes
  * /api requests through every `type: endpoint` rule file found in `rules_dir`
  * (first matching endpoint wins, in sorted file order). */
object UiServer {

  final case class Config(
      port: Int = 8080,
      dataDir: Path = Paths.get(".rulemorph"),
      uiDir: Option[Path] = None,
      rulesDir: Option[Path] = None,
      apiMode: String = "rules", // rules | ui-only
      uiEnabled: Boolean = true,
      // rich trace capture for the /api engines: the same jobs per
      // request, trace values recorded in the rule's own plan (see
      // EndpointEngine); the CLI exposes it as --no-trace-detail
      traceDetail: Boolean = true)

  private val mapper = new ObjectMapper()

  def start(spark: SparkSession, config: Config): HttpServer = {
    val store = new FileTraceStore(config.dataDir)

    // one engine per endpoint-type rule file in the rules dir
    val engines: Seq[EndpointEngine] =
      if (config.apiMode != "rules") Nil
      else {
        val dir = config.rulesDir.getOrElse(config.dataDir.resolve("api_rules"))
        if (!Files.isDirectory(dir)) Nil
        else {
          val stream = Files.walk(dir)
          val files =
            try stream.iterator().asScala
              .filter(p => Files.isRegularFile(p) &&
                (p.toString.endsWith(".yaml") || p.toString.endsWith(".yml")))
              .toVector.sortBy(_.toString)
            finally stream.close()
          files.filter { p =>
            try EndpointModel.parseRuleKind(Files.readString(p))
              .isInstanceOf[EndpointModel.EndpointRule]
            catch { case NonFatal(_) => false }
          }
          .map(p => new EndpointEngine(spark, p.toString,
            s"http://127.0.0.1:${config.port}",
            // /api traces land in the data dir so /internal/traces sees
            // them, matching the reference's shared data-dir store
            new TraceStore(persistDir = Some(store.tracesDir)),
            traceDetail = config.traceDetail))
        }
      }

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", config.port), 0)
    // SSE connections hold their handler thread — never run single-threaded
    server.setExecutor(Executors.newCachedThreadPool())
    server.createContext("/", new HttpHandler {
      override def handle(x: HttpExchange): Unit =
        try route(x)
        catch { case NonFatal(e) =>
          try sendJson(x, 500, s"""{"error":${ScalarJson.quote(Option(e.getMessage).getOrElse(""))}}""")
          catch { case NonFatal(_) => () }
        } finally {
          if (!isSse(x)) x.close()
        }

      private def isSse(x: HttpExchange): Boolean =
        x.getRequestURI.getPath == "/internal/stream"

      private def route(x: HttpExchange): Unit = {
        val path = x.getRequestURI.getPath
        path match {
          case "/internal/traces" =>
            sendJson(x, 200, store.listJson)
          case p if p.startsWith("/internal/traces/") =>
            val id = p.stripPrefix("/internal/traces/")
            store.get(id) match {
              case Some(t) =>
                val o = mapper.createObjectNode()
                o.set[com.fasterxml.jackson.databind.JsonNode]("trace", t)
                sendJson(x, 200, mapper.writeValueAsString(o))
              case None => sendJson(x, 404, """{"error":"trace not found"}""")
            }
          case "/internal/api-graph" =>
            sendJson(x, 200, ApiGraph.buildJson(store.dataDir))
          case "/internal/import" =>
            val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
            val bundle = Option(mapper.readTree(body).get("bundle_path"))
              .filter(_.isTextual).map(_.asText)
            bundle match {
              case None => sendJson(x, 400, """{"error":"bundle_path is required"}""")
              case Some(bp) =>
                val (imported, ids, rules) = store.importBundle(Paths.get(bp))
                val o = mapper.createObjectNode()
                o.put("imported", imported)
                val arr = mapper.createArrayNode()
                ids.foreach(arr.add)
                o.set[com.fasterxml.jackson.databind.JsonNode]("trace_ids", arr)
                o.put("rules_imported", rules)
                sendJson(x, 200, mapper.writeValueAsString(o))
            }
          case "/internal/stream" =>
            serveSse(x, store)
          case p if p.startsWith("/api/") && engines.nonEmpty =>
            serveRulesApi(x, p)
          case p if p.startsWith("/api/") && config.apiMode == "rules" =>
            sendJson(x, 500, """{"error":"api engine not configured"}""")
          case _ if config.uiEnabled =>
            serveStatic(x, config.uiDir, path)
          case _ =>
            sendJson(x, 404, """{"error":"not found"}""")
        }
      }

      private def serveRulesApi(x: HttpExchange, path: String): Unit = {
        val headers = x.getRequestHeaders.entrySet.asScala.toSeq.flatMap { e =>
          e.getValue.asScala.map(v => e.getKey -> v)
        }
        val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
        // the engine matches on the path under /api (reference strips the
        // prefix at the router); try each endpoint file, first match wins
        val sub = path.stripPrefix("/api")
        val results = engines.iterator.map(_.handle(x.getRequestMethod,
          if (sub.isEmpty) "/" else sub,
          Option(x.getRequestURI.getRawQuery).getOrElse(""),
          headers, if (body.isEmpty) None else Some(body)))
        val result = results.find(r =>
          !(r.status == 404 && r.body.contains("no endpoint matched")))
          .getOrElse(EndpointEngine.HttpResult(404,
            Seq("content-type" -> "application/json"),
            """{"error":"no endpoint matched"}"""))
        result.headers.foreach { case (k, v) => x.getResponseHeaders.add(k, v) }
        val bytes = result.body.getBytes("UTF-8")
        x.sendResponseHeaders(result.status, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) x.getResponseBody.write(bytes)
      }
    })
    server.start()
    server
  }

  /** One shared watcher per store computes the change stamp once per tick
    * and bumps a generation counter — N connected SSE clients cost O(1)
    * directory walks per second instead of N (the reference uses one
    * trace_watch broadcast channel the same way). Daemon thread: dies
    * with the JVM, idles with zero subscribers. */
  private final class TraceWatcher(store: FileTraceStore) {
    private val lock = new Object
    @volatile private var generation = 0L
    private val thread = new Thread(() => {
      var stamp = store.changeStamp()
      while (true) {
        Thread.sleep(1000)
        try {
          val now = store.changeStamp()
          if (now != stamp) {
            stamp = now
            lock.synchronized { generation += 1; lock.notifyAll() }
          }
        } catch { case NonFatal(_) => () }
      }
    }, "graft-trace-watcher")
    thread.setDaemon(true)
    thread.start()

    /** Block up to `timeoutMs` for a generation newer than `seen`;
      * returns the current generation. */
    def awaitChange(seen: Long, timeoutMs: Long): Long = lock.synchronized {
      if (generation == seen) lock.wait(timeoutMs)
      generation
    }
    def current: Long = generation
  }

  private val watchers =
    new java.util.concurrent.ConcurrentHashMap[Path, TraceWatcher]()

  /** SSE loop: initial `traces`/`connected` event, an `updated` event when
    * the shared watcher reports a change, comment keepalives every 15s.
    * Runs on the handler's (cached-pool) thread until the client drops. */
  private def serveSse(x: HttpExchange, store: FileTraceStore): Unit = {
    val watcher = watchers.computeIfAbsent(store.dataDir.toAbsolutePath,
      _ => new TraceWatcher(store))
    x.getResponseHeaders.add("content-type", "text/event-stream")
    x.getResponseHeaders.add("cache-control", "no-cache")
    x.sendResponseHeaders(200, 0)
    val out = x.getResponseBody
    def send(s: String): Unit = { out.write(s.getBytes("UTF-8")); out.flush() }
    try {
      send("event: traces\ndata: connected\n\n")
      var seen = watcher.current
      while (true) {
        val now = watcher.awaitChange(seen, 15000)
        if (now != seen) {
          seen = now
          send("event: traces\ndata: updated\n\n")
        } else send(": keep-alive\n\n") // timeout: prove the client is alive
      }
    } catch {
      case NonFatal(_) => () // client disconnected
      case _: InterruptedException => ()
    } finally x.close()
  }

  /** Static UI assets with SPA fallback to index.html; traversal-safe.
    * With no `--ui-dir`, the built-in minimal bundle ships as classpath
    * resources under graft/ui/ (trace list/detail + api-graph views over
    * the /internal APIs), so `graft ui` renders out of the box like the
    * reference's bundled rulemorph_ui frontend. A user-supplied dir
    * fully replaces the bundle (file missing there ⇒ its index.html). */
  private def serveStatic(x: HttpExchange, uiDir: Option[Path], rawPath: String): Unit = {
    val rel = rawPath.stripPrefix("/") match { case "" => "index.html"; case p => p }
    uiDir match {
      case Some(dir) =>
        val resolved = dir.resolve(rel).normalize()
        val target =
          if (resolved.startsWith(dir.normalize()) && Files.isRegularFile(resolved)) resolved
          else dir.resolve("index.html")
        if (!Files.isRegularFile(target)) {
          sendJson(x, 404, """{"error":"not found"}"""); return
        }
        sendAsset(x, target.toString, Files.readAllBytes(target))
      case None =>
        // classpath bundle; resource names are fixed strings (no user
        // path reaches the classloader unless it maps to a bundled file);
        // dots-only segments ("."/"..") would resolve to directories on an
        // exploded classpath, so they fall back like any other SPA route
        val safe = if (rel.matches("[A-Za-z0-9._-]+") && !rel.forall(_ == '.')) rel
                   else "index.html"
        val res = Option(getClass.getResourceAsStream(s"/graft/ui/$safe"))
          .orElse(Option(getClass.getResourceAsStream("/graft/ui/index.html")))
        res match {
          case Some(in) =>
            val bytes = try in.readAllBytes() finally in.close()
            val name = if (getClass.getResource(s"/graft/ui/$safe") != null) safe
                       else "index.html"
            sendAsset(x, name, bytes)
          case None => sendJson(x, 404, """{"error":"not found"}""")
        }
    }
  }

  private def sendAsset(x: HttpExchange, name: String, bytes: Array[Byte]): Unit = {
    x.getResponseHeaders.add("content-type", contentTypeOf(name))
    x.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) x.getResponseBody.write(bytes)
  }

  private def contentTypeOf(name: String): String =
    if (name.endsWith(".html")) "text/html; charset=utf-8"
    else if (name.endsWith(".js")) "text/javascript"
    else if (name.endsWith(".css")) "text/css"
    else if (name.endsWith(".json")) "application/json"
    else if (name.endsWith(".svg")) "image/svg+xml"
    else if (name.endsWith(".png")) "image/png"
    else "application/octet-stream"

  private def sendJson(x: HttpExchange, status: Int, body: String): Unit = {
    x.getResponseHeaders.add("content-type", "application/json")
    val bytes = body.getBytes("UTF-8")
    x.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) x.getResponseBody.write(bytes)
  }
}
