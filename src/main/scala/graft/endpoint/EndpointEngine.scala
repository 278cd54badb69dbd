package graft.endpoint

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, HttpTimeoutException}
import java.nio.file.{Files, Path, Paths}
import java.time.Duration

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.ScalarJson
import graft.rules._
import graft.rules.Model._
import EndpointModel._

/** The serving engine for `endpoint` rules (reference
  * endpoint_engine.rs:321-592): an HTTP request becomes the virtual
  * `@input` record {method, path, query, headers, body}, the endpoint's
  * `input` mappings reshape it, each `steps[]` rule transforms the running
  * record (normal rules through the SAME compiled Catalyst plans the batch
  * engine runs; `network` rules through an outbound HTTP call with
  * timeout/retry/select), and `reply` evaluates status/body v2 exprs over
  * the final record. Errors route through step-then-endpoint `catch` specs
  * keyed by exact status > 4xx/5xx pattern > timeout > default
  * (endpoint_engine.rs:1479-1515). Every request appends a trace.
  *
  * Scale note: this surface exists for request/reply parity with the
  * reference; the 100 TB path is the SAME rule files compiled once over a
  * dataset (Engine.transform) — per-record serving here deliberately reuses
  * those plans rather than maintaining a second interpreter.
  */
class EndpointEngine(
    spark: SparkSession,
    endpointYamlPath: String,
    internalBase: String = "",
    val traces: TraceStore = new TraceStore(),
    // rich trace capture (records/nodes/op children): the traced rules run
    // in the same number of jobs, with the trace values recorded beside
    // their output (see [[TraceDetail]]); false keeps the flat steps[]
    // trace and the untraced plans. Server/UiServer and the CLI
    // (--no-trace-detail) plumb it through.
    traceDetail: Boolean = true) {

  private val mapper = new ObjectMapper()
  private val baseDir: Path =
    Option(Paths.get(endpointYamlPath).getParent).getOrElse(Paths.get("."))
  private val endpointFile: EndpointFile =
    EndpointModel.parseRuleKind(Files.readString(Paths.get(endpointYamlPath))) match {
      case EndpointRule(spec) => spec
      case _ => throw EndpointParseError(s"$endpointYamlPath is not an endpoint rule")
    }
  private val http: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  // loaded rule files by resolved path (plans compile once per rule)
  private val ruleCache = scala.collection.concurrent.TrieMap.empty[String, RuleKind]

  private val detail = new TraceDetail

  import EndpointEngine.{EndpointError, EndpointFailure, HttpResult, Ran}

  // -- request handling ---------------------------------------------------

  /** Handle one request; pure of any server framework so tests can drive
    * it directly. Query is the raw query string (null/empty ok). */
  def handle(method: String, path: String, query: String,
      headers: Seq[(String, String)], body: Option[String]): HttpResult = {
    val started = System.nanoTime()
    val matched = endpointFile.endpoints.iterator
      .flatMap(e => if (e.method == method.toUpperCase)
        e.path.matchPath(path).map(e -> _) else None)
      .nextOption()
    matched match {
      case None => HttpResult(404, Seq("content-type" -> "application/json"),
        """{"error":"no endpoint matched"}""")
      case Some((endpoint, pathParams)) =>
        val trace = new TraceBuilder(method, path, endpointYamlPath, detail)
        val result = runEndpoint(endpoint, pathParams, query, headers, body, trace)
        traces.append(trace.finish(result.status, (System.nanoTime() - started) / 1000))
        result
    }
  }

  private def runEndpoint(endpoint: EndpointDef, pathParams: Map[String, String],
      query: String, headers: Seq[(String, String)], body: Option[String],
      trace: TraceBuilder): HttpResult = {
    // @input = {method, path, query, headers, body?} (build_input_from_parts)
    val inputEither: Either[EndpointError, ObjectNode] =
      try Right(buildInput(endpoint, pathParams, query, headers, body))
      catch {
        case EndpointFailure(e) => Left(e)
        case NonFatal(e) => Left(EndpointError.invalid(e.getMessage))
      }

    var current: JsonNode = inputEither.getOrElse(mapper.createObjectNode())
    var failed: Option[EndpointError] = inputEither.left.toOption
    trace.input(current)

    // reference-shaped record nodes (one per pipeline stage) beside the
    // flat steps[], rendered from the traced runs' recorded values
    val rnodes = mapper.createArrayNode()
    val origInput = current.deepCopy[JsonNode]()
    def addNode(id: String, label: String, rulePath: Option[String],
        stepIndex: Option[Int], status: String, before: JsonNode,
        durationUs: Long)(enrich: ObjectNode => Unit): Unit =
      if (traceDetail) {
        val n = detail.stageNode(id, "endpoint", label, status, before,
          if (status == "ok") Some(current.deepCopy[JsonNode]()) else None, mapper.createArrayNode())
        n.put("duration_us", durationUs)
        val meta = mapper.createObjectNode()
        rulePath.foreach(p => meta.put("rule_ref", p))
        stepIndex.foreach(i => meta.put("step_index", i))
        if (meta.size() > 0) n.set[JsonNode]("meta", meta)
        // a rendering failure degrades to a PLAIN node, never a missing
        // one — records[0].nodes must stay in sync with the executed stages
        try enrich(n) catch { case NonFatal(_) => () }
        rnodes.add(n)
      }

    // input mappings reshape @input; their output REPLACES it
    if (failed.isEmpty && endpoint.input.nonEmpty) {
      val inputRule = RuleFile(version = 2, mappings = endpoint.input)
      val before = current.deepCopy[JsonNode]()
      val t0 = System.nanoTime()
      var inputRun: Option[Engine.Traced] = None
      try {
        val ran = transformValue(inputRule, current, configContext(None, None), inlineLoader,
          traceDetail)
        current = ran.value
        inputRun = ran.traced
      } catch {
        case EndpointFailure(e) => failed = Some(e)
        case NonFatal(e) => failed = Some(EndpointError.transform(rootMessage(e)))
      }
      addNode("input", "input", None, None,
          if (failed.isEmpty) "ok" else "error", before,
          (System.nanoTime() - t0) / 1000) { n =>
        inputRun.foreach { run =>
          val ops = detail.mappingOps(endpoint.input, run, "mappings", 0)
          if (ops.size() > 0) n.set[JsonNode]("children", ops)
        }
      }
    }
    failed.foreach { err =>
      runCatch(endpoint.catchSpec, err, current, None) match {
        case Some(next) => current = next; failed = None
        case None => ()
      }
    }

    // steps: output of each becomes the next @input
    if (failed.isEmpty) {
      val it = endpoint.steps.iterator
      var break = false
      var stepIdx = -1
      while (it.hasNext && !break && failed.isEmpty) {
        val step = it.next()
        stepIdx += 1
        val idx = stepIdx
        val before = current.deepCopy[JsonNode]()
        val stepStarted = System.nanoTime()
        def stepDurUs = (System.nanoTime() - stepStarted) / 1000
        // a step's child_trace, rendered from the values its traced run
        // recorded (TraceDetail.ruleTrace / networkTrace)
        def withChildTrace(ran: Ran)(n: ObjectNode): Unit = {
          val name = baseDir.resolve(step.rulePath).normalize().getFileName.toString
          loadRule(step.rulePath) match {
            case NormalRule(rule) =>
              ran.traced.foreach { run =>
                n.set[JsonNode]("child_trace", detail.ruleTrace(name, step.rulePath,
                  rule, before, Some(current), run, Some(stepDurUs)))
              }
            case NetworkRule(spec) =>
              n.set[JsonNode]("child_trace", detail.networkTrace(name, step.rulePath,
                spec, before, Some(current), ran.traced, stepDurUs))
              ()
            case _ => ()
          }
        }
        val skip = step.when.exists { cond =>
          !evalCond(cond, current, configContext(step.withParams, None))
        }
        if (skip) {
          trace.step(step.rulePath, "skipped", stepDurUs)
          addNode(s"step-$idx", step.rulePath, Some(step.rulePath), Some(idx),
            "skipped", before, stepDurUs)(_ => ())
        } else {
          try {
            val ran = executeRule(step.rulePath, current, step.withParams, traceDetail)
            current = ran.value
            trace.step(step.rulePath, "ok", stepDurUs)
            addNode(s"step-$idx", step.rulePath, Some(step.rulePath), Some(idx),
              "ok", before, stepDurUs)(withChildTrace(ran))
          } catch {
            case NonFatal(e) =>
              val err = e match {
                case EndpointFailure(inner) => inner
                case other => EndpointError.transform(rootMessage(other))
              }
              runCatch(step.catchSpec, err, current, step.withParams)
                .orElse {
                  val r = runCatch(endpoint.catchSpec, err, current, None)
                  if (r.isDefined) break = true // endpoint-level catch ends the pipeline
                  r
                } match {
                case Some(next) =>
                  current = next
                  trace.step(step.rulePath, "ok", stepDurUs)
                  addNode(s"step-$idx", step.rulePath, Some(step.rulePath),
                    Some(idx), "ok", before, stepDurUs)(_ => ())
                case None =>
                  failed = Some(err)
                  trace.step(step.rulePath, "error", stepDurUs)
                  addNode(s"step-$idx", step.rulePath, Some(step.rulePath),
                      Some(idx), "error", before, stepDurUs) { n =>
                    val eo = mapper.createObjectNode()
                    eo.put("message", err.message)
                    n.set[JsonNode]("error", eo)
                    ()
                  }
              }
          }
        }
      }
    }
    if (traceDetail) trace.detail(origInput, current, rnodes)

    failed match {
      case Some(err) =>
        trace.error(err.toJson)
        HttpResult(500, Seq("content-type" -> "application/json"),
          s"""{"error":${ScalarJson.quote(err.message)}}""")
      case None =>
        try buildReply(endpoint, current)
        catch {
          case NonFatal(e) =>
            val err = EndpointError.invalid(rootMessage(e))
            runCatch(endpoint.catchSpec, err, current, None) match {
              case Some(next) =>
                try buildReply(endpoint, next)
                catch {
                  case NonFatal(e2) =>
                    trace.error(err.toJson)
                    HttpResult(500, Seq("content-type" -> "application/json"),
                      s"""{"error":${ScalarJson.quote(rootMessage(e2))}}""")
                }
              case None =>
                trace.error(err.toJson)
                HttpResult(500, Seq("content-type" -> "application/json"),
                  s"""{"error":${ScalarJson.quote(err.message)}}""")
            }
        }
    }
  }

  private def buildInput(endpoint: EndpointDef, pathParams: Map[String, String],
      query: String, headers: Seq[(String, String)], body: Option[String]): ObjectNode = {
    val input = mapper.createObjectNode()
    input.put("method", endpoint.method)
    val pathObj = mapper.createObjectNode()
    pathParams.foreach { case (k, v) => pathObj.put(k, v) }
    input.set[JsonNode]("path", pathObj)
    // query: single-valued only; duplicates are an error routed to catch
    val queryObj = mapper.createObjectNode()
    Option(query).filter(_.nonEmpty).foreach { q =>
      q.split("&").filter(_.nonEmpty).foreach { pair =>
        val Array(k, v) = (pair.split("=", 2) ++ Array("")).take(2)
        val key = java.net.URLDecoder.decode(k, "UTF-8")
        if (queryObj.has(key))
          throw EndpointFailure(EndpointError.invalid(s"duplicate query param: $key"))
        queryObj.put(key, java.net.URLDecoder.decode(v, "UTF-8"))
      }
    }
    input.set[JsonNode]("query", queryObj)
    // headers: lowercased keys, same-name values comma-joined
    val headerObj = mapper.createObjectNode()
    headers.groupBy(_._1.toLowerCase).toSeq.sortBy(_._1).foreach { case (k, vs) =>
      headerObj.put(k, vs.map(_._2).mkString(","))
    }
    input.set[JsonNode]("headers", headerObj)
    body.filter(_.nonEmpty).foreach { b =>
      val parsed =
        try mapper.readTree(b)
        catch { case NonFatal(e) =>
          throw EndpointFailure(EndpointError.invalid(s"invalid body JSON: ${e.getMessage}")) }
      input.set[JsonNode]("body", parsed)
    }
    input
  }

  /** @context for steps/catches: {config: {internal_base}} plus optional
    * `params` (step `with`) and `error` (inside catch rules). */
  private def configContext(params: Option[JValue], error: Option[EndpointError]): JValue = {
    var fields: Seq[(String, JValue)] =
      Seq("config" -> JObject(Seq("internal_base" -> JString(internalBase))))
    params.foreach(p => fields :+= ("params" -> p))
    error.foreach { e =>
      fields :+= ("error" -> JObject(Seq(
        "kind" -> JString(e.kind),
        "status" -> e.status.map(s => JLong(s.toLong): JValue).getOrElse(JNull),
        "message" -> JString(e.message))))
    }
    JObject(fields)
  }

  // -- rule execution -----------------------------------------------------

  private def loadRule(rulePath: String): RuleKind =
    ruleCache.getOrElseUpdate(rulePath, {
      val resolved = baseDir.resolve(rulePath).normalize()
      EndpointModel.parseRuleKind(Files.readString(resolved))
    })

  private def executeRule(rulePath: String, input: JsonNode,
      withParams: Option[JValue], traced: Boolean = false): Ran =
    loadRule(rulePath) match {
      case NormalRule(rule) =>
        transformValue(rule, input, configContext(withParams, None),
          Engine.loaderBeside(baseDir.resolve(rulePath).normalize()), traced)
      case NetworkRule(spec) =>
        executeNetwork(spec, input, configContext(withParams, None), traced)
      case EndpointRule(_) =>
        throw EndpointFailure(EndpointError.invalid("step rule must be normal or network"))
    }

  /** Branch paths of the rules written inline in the endpoint file (input
    * mappings, a request's body_map) resolve against its directory. */
  private val inlineLoader: Engine.RuleLoader = Engine.fileLoader(baseDir.toString)

  /** Run a normal rule over the running record (object = one record,
    * array = the record set): one object in, one object out, unless
    * finalize makes it the rule's output text ([[Engine.outputText]]).
    * `traced` runs it through [[Engine.toJsonRecordsTraced]]: the same
    * output from one job, plus the values its plan recorded. */
  private def transformValue(rule: RuleFile, value: JsonNode, context: JValue,
      loader: Engine.RuleLoader, traced: Boolean = false): Ran = {
    val (json, run) =
      try ExprCompiler.RmError.recover {
        val df = recordDf(value)
        if (traced) {
          val run = Engine.toJsonRecordsTraced(rule, df, context, nullAsMissing = true, loader)
          (run.output, Some(run))
        } else (Engine.toJsonRecords(rule, df, context, nullAsMissing = true, loader)
          .collect().toSeq.map(_.getString(0)), None)
      } catch {
        case e: ExprCompiler.RmError =>
          throw EndpointFailure(EndpointError.transform(e.getMessage))
        case NonFatal(e) => throw EndpointFailure(EndpointError.transform(rootMessage(e)))
      }
    val result =
      if (rule.finalizeSpec.isEmpty && !value.isArray)
        json.headOption.map(mapper.readTree).getOrElse(mapper.createObjectNode())
      else mapper.readTree(Engine.outputText(rule, json))
    Ran(result, run)
  }

  /** One-record (or record-array) DataFrame through the standard JSON
    * source, so ingestion semantics match the batch engine exactly —
    * straight from the in-memory node, no per-request temp file. A record
    * set of at most `Sources.LocalMaxRecords` (256) records is a driver-local
    * frame: the rule folds into it while Catalyst optimizes, so a step,
    * `evalJson` or `evalCond` costs planning and starts no Spark job, where
    * a job's fixed cost would dominate a request's few records. A larger
    * array (a finalized record set) is scanned by tasks, as a CLI input is. */
  private def recordDf(value: JsonNode): DataFrame =
    graft.sources.Sources.jsonNode(spark, value, Nil)

  /** Evaluate one v2 expr against the running pipeline value: objects are
    * the record; arrays (a finalized record set) are wrapped so bare
    * `@input` resolves to the whole array. */
  private def evalJson(e: Expr, value: JsonNode, ctx: JValue): Option[String] =
    if (value.isArray)
      Engine.evalExprJson(e, recordDf(mapper.createObjectNode().set[JsonNode]("__v", value)), ctx,
        Seq("__v"))
    else Engine.evalExprJson(e, recordDf(value), ctx, Nil)

  private def evalCond(c: Cond, value: JsonNode, ctx: JValue): Boolean =
    evalJson(ECond(c), value, ctx).contains("true")

  // -- catch --------------------------------------------------------------

  /** Exact status > 4xx/5xx > timeout > default (CatchSpec::match_target). */
  private def matchCatch(spec: Map[String, String], err: EndpointError): Option[String] = {
    err.status.flatMap { s =>
      spec.get(s.toString).orElse {
        val pattern = if (s >= 400 && s < 500) "4xx" else if (s >= 500 && s < 600) "5xx" else ""
        if (pattern.nonEmpty) spec.get(pattern) else None
      }
    }.orElse(if (err.kind == "Timeout") spec.get("timeout") else None)
      .orElse(spec.get("default"))
  }

  /** Run the matched catch rule with @context.error carrying the failure;
    * None = no match (fall through). */
  private def runCatch(spec: Map[String, String], err: EndpointError,
      input: JsonNode, params: Option[JValue]): Option[JsonNode] =
    matchCatch(spec, err).map { target =>
      loadRule(target) match {
        case NormalRule(rule) =>
          transformValue(rule, input, configContext(params, Some(err)),
            Engine.loaderBeside(baseDir.resolve(target).normalize())).value
        case _ => throw EndpointFailure(EndpointError.invalid("catch rule must be normal"))
      }
    }

  // -- network ------------------------------------------------------------

  private def executeNetwork(spec: NetworkSpec, input: JsonNode,
      context: JValue, traced: Boolean): Ran = {
    def catchOr(err: EndpointError): Ran =
      Ran(runCatch(spec.catchSpec, err, input, None)
        .getOrElse(throw EndpointFailure(err)))

    val url =
      try evalJson(spec.url, input, context) match {
        case Some(s) =>
          val n = mapper.readTree(s)
          if (!n.isTextual)
            return catchOr(EndpointError.invalid("request.url must be a string"))
          n.asText
        case None => return catchOr(EndpointError.invalid("request.url is missing"))
      }
      catch { case NonFatal(e) => return catchOr(EndpointError.invalid(rootMessage(e))) }

    var bodyMapRun: Option[Engine.Traced] = None
    val body: Option[String] =
      try {
        if (spec.body.isDefined)
          evalJson(spec.body.get, input, context) // missing ⇒ no body
        else if (spec.bodyMap.nonEmpty) {
          val ran = transformValue(RuleFile(version = 2, mappings = spec.bodyMap), input,
            context, inlineLoader, traced)
          bodyMapRun = ran.traced
          Some(mapper.writeValueAsString(ran.value))
        } else spec.bodyRule.map { rp =>
          mapper.writeValueAsString(executeRule(rp, input, None).value)
        }
      } catch {
        case EndpointFailure(e) => return catchOr(e)
        case NonFatal(e) => return catchOr(EndpointError.invalid(rootMessage(e)))
      }

    var attempt = 0
    while (true) {
      sendRequest(spec, url, body) match {
        case Right(value) =>
          spec.select match {
            case Some(tokens) =>
              var cur: JsonNode = value
              for (tok <- tokens) tok match {
                case PathParser.PKey(k) =>
                  cur = if (cur != null && cur.isObject) cur.get(k) else null
                case PathParser.PIdx(i) =>
                  cur = if (cur != null && cur.isArray) cur.get(i) else null
              }
              if (cur == null)
                return catchOr(EndpointError.invalid("select path not found"))
              return Ran(cur, bodyMapRun)
            case None => return Ran(value, bodyMapRun)
          }
        case Left(err) =>
          val retryable = err.kind == "Timeout" || err.kind == "Network"
          spec.retry match {
            case Some(retry) if retryable && attempt < retry.max =>
              Thread.sleep(retry.delayMs(attempt))
              attempt += 1
            case _ => return catchOr(err)
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def sendRequest(spec: NetworkSpec, url: String,
      body: Option[String]): Either[EndpointError, JsonNode] = {
    try {
      val builder = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMillis(spec.timeoutMs))
      val publisher = body match {
        case Some(b) => HttpRequest.BodyPublishers.ofString(b)
        case None => HttpRequest.BodyPublishers.noBody()
      }
      builder.method(spec.method, publisher)
      spec.headers.foreach { case (k, v) => builder.header(k, v) }
      if (body.isDefined && !spec.headers.exists(_._1 == "content-type"))
        builder.header("content-type", "application/json")
      val response = http.send(builder.build(), HttpResponse.BodyHandlers.ofString())
      val status = response.statusCode()
      if (status >= 400) Left(EndpointError.httpStatus(status))
      else {
        val text = response.body()
        if (text == null || text.isEmpty) Right(mapper.nullNode())
        else
          try Right(mapper.readTree(text))
          catch { case NonFatal(e) =>
            Left(EndpointError.network(s"invalid JSON response: ${e.getMessage}")) }
      }
    } catch {
      case _: HttpTimeoutException => Left(EndpointError.timeout)
      case NonFatal(e) => Left(EndpointError.network(rootMessage(e)))
    }
  }

  // -- reply --------------------------------------------------------------

  private def buildReply(endpoint: EndpointDef, current: JsonNode): HttpResult = {
    val ctx = configContext(None, None)
    val status = evalJson(endpoint.reply.status, current, ctx) match {
      case Some(s) =>
        val n = mapper.readTree(s)
        val v =
          if (n.isIntegralNumber) n.asInt
          else if (n.isTextual) n.asText.toIntOption.getOrElse(
            throw EndpointFailure(EndpointError.invalid("status must be integer")))
          else throw EndpointFailure(EndpointError.invalid("status must be integer"))
        if (v < 100 || v > 599)
          throw EndpointFailure(EndpointError.invalid("status out of range"))
        v
      case None => throw EndpointFailure(EndpointError.invalid("status must be integer"))
    }
    val bodyText = endpoint.reply.body.map { b =>
      evalJson(b, current, ctx).getOrElse("null") // missing ⇒ null
    }
    var headers = endpoint.reply.headers
    if (bodyText.isDefined && !headers.exists(_._1 == "content-type"))
      headers :+= ("content-type" -> "application/json")
    HttpResult(status, headers, bodyText.getOrElse(""))
  }

  private def rootMessage(e: Throwable): String = {
    var cur = e
    while (cur.getCause != null && cur.getCause != cur) cur = cur.getCause
    Option(cur.getMessage).getOrElse(cur.getClass.getSimpleName)
  }
}

object EndpointEngine {
  /** A stage's result value plus, for a traced run, what its plan recorded
    * (for a network rule: its body_map run). */
  private final case class Ran(value: JsonNode, traced: Option[Engine.Traced] = None)

  final case class HttpResult(status: Int, headers: Seq[(String, String)], body: String)

  private[endpoint] final case class EndpointError(
      kind: String, status: Option[Int], message: String) {
    def toJson: JsonNode = {
      val o = new ObjectMapper().createObjectNode()
      o.put("kind", kind)
      status match { case Some(s) => o.put("status", s); case None => o.putNull("status") }
      o.put("message", message)
      o
    }
  }
  private[endpoint] object EndpointError {
    def timeout: EndpointError = EndpointError("Timeout", None, "timeout")
    def httpStatus(s: Int): EndpointError = EndpointError("HttpStatus", Some(s), s"http status $s")
    def network(msg: String): EndpointError = EndpointError("Network", None, msg)
    def transform(msg: String): EndpointError = EndpointError("Transform", None, msg)
    def invalid(msg: String): EndpointError = EndpointError("Invalid", None, msg)
  }
  private[endpoint] final case class EndpointFailure(error: EndpointError)
    extends RuntimeException(error.message)
}

/** Bounded in-memory request trace store (reference trace_store.rs:45-180):
  * every handled request appends {id, method, path, status, duration_us,
  * steps[], error?}; the admin surface lists and fetches them. With a
  * `persistDir` (the UI server's data_dir/traces), each trace is also
  * written as a JSON file so the `/internal/traces` file store sees it —
  * the reference wires its engine to the same data-dir store. */
final class TraceStore(capacity: Int = 1000,
    persistDir: Option[java.nio.file.Path] = None) {
  private val mapper = new ObjectMapper()
  private val entries = new java.util.ArrayDeque[JsonNode]()
  private val counter = new java.util.concurrent.atomic.AtomicLong()
  // uniquify file ids across restarts AND across stores sharing one
  // persist dir (the ui server builds one engine per endpoint rule file;
  // same-millis startedAt values would collide and overwrite traces)
  private val storeNonce =
    java.lang.Long.toUnsignedString(new java.security.SecureRandom().nextLong(), 36)

  private[endpoint] def append(node: ObjectNode): String = synchronized {
    val id = s"trace-${counter.incrementAndGet()}"
    node.put("id", id)
    entries.addLast(node)
    if (entries.size > capacity) entries.removeFirst()
    persistDir.foreach { dir =>
      val fileId = s"trace-$storeNonce-${counter.get()}"
      val persisted = node.deepCopy[ObjectNode]()
      persisted.put("trace_id", fileId)
      persisted.put("timestamp", java.time.Instant.now().toString)
      // the engine marks "ok"/"error"; keep the file store's vocabulary
      persisted.put("status",
        if (node.path("status").asText == "ok") "success" else "error")
      try {
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.writeString(dir.resolve(s"$fileId.json"),
          mapper.writeValueAsString(persisted))
      } catch { case scala.util.control.NonFatal(_) => () } // tracing is best-effort
    }
    id
  }

  def list(): Seq[JsonNode] = synchronized { entries.asScala.toSeq }

  def get(id: String): Option[JsonNode] = synchronized {
    entries.asScala.find(e => e.path("id").asText == id)
  }

  def listJson: String = synchronized {
    mapper.writeValueAsString(entries.asScala.toArray)
  }
}

private final class TraceBuilder(method: String, path: String, rulePath: String,
    shape: TraceDetail) {
  private val mapper = new ObjectMapper()
  private val node = mapper.createObjectNode()
  private val steps = mapper.createArrayNode()
  node.put("method", method)
  node.put("path", path)
  node.put("status", "ok")

  // reference-shaped record detail (records[0].nodes), set by runEndpoint
  private var detailTriple: Option[(JsonNode, JsonNode, ArrayNode)] = None

  def input(v: JsonNode): Unit = node.set[JsonNode]("input", v.deepCopy[JsonNode]())

  def step(rule: String, status: String, durationUs: Long): Unit = {
    val s = mapper.createObjectNode()
    s.put("rule", rule)
    s.put("status", status)
    s.put("duration_us", durationUs)
    steps.add(s)
  }

  def error(err: JsonNode): Unit = {
    node.put("status", "error")
    node.set[JsonNode]("error", err)
  }

  def detail(input: JsonNode, output: JsonNode, nodes: ArrayNode): Unit =
    detailTriple = Some((input.deepCopy[JsonNode](),
      output.deepCopy[JsonNode](), nodes))

  def finish(httpStatus: Int, durationUs: Long): ObjectNode = {
    node.put("http_status", httpStatus)
    node.put("duration_us", durationUs)
    node.set[JsonNode]("steps", steps)
    // keep the flat steps[] (engine vocabulary) AND emit the reference's
    // records/rule/summary shape so the UI's record navigation, op chains,
    // and inspector views light up on real served traffic
    detailTriple.foreach { case (in, out, nodes) =>
      shape.traceDoc(node, "endpoint", s"$method $path", rulePath, 2,
        node.path("status").asText("ok"), in, Some(out), nodes, Some(durationUs),
        Option(node.get("error")))
    }
    node
  }
}
