package graft.mcp

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.rules._

/** MCP (Model Context Protocol) stdio server with the reference server's
  * surface (crates/rulemorph_mcp/src/main.rs): a JSON-RPC 2.0 front-end
  * over stdin/stdout (one JSON object per line, or Content-Length framed)
  * with methods initialize, tools/list, tools/call, resources, prompts,
  * ping, shutdown, and the seven tools — transform, validate_rules,
  * generate_dto, list_ops, analyze_input, generate_rules_from_base,
  * generate_rules_from_dto.
  *
  * The transform tool is the CLI's transform run ([[Engine.FileRun]]: the
  * batch shape, or the NDJSON shape for `ndjson: true`) under the same
  * error recovery; this object only parses the tool's arguments and
  * writes its reply, with the run's diagnostics as `meta.errors` and
  * `meta.warnings`. Everything else (analysis, candidate matching, DTO
  * schema parsing, YAML synthesis) is driver-side JVM work on small
  * samples.
  */
object Mcp {

  private val ProtocolVersion = "2024-11-05"
  private val mapper = new ObjectMapper()
  private val yamlIo = {
    val opts = new org.yaml.snakeyaml.DumperOptions()
    opts.setDefaultFlowStyle(org.yaml.snakeyaml.DumperOptions.FlowStyle.BLOCK)
    new org.yaml.snakeyaml.Yaml(opts)
  }

  def main(args: Array[String]): Unit = {
    val in = new java.io.BufferedInputStream(System.in)
    val out = System.out
    var contentLength = false // reply in the framing the client speaks
    var message = readMessage(in)
    while (message != null) {
      val (text, framed) = message
      contentLength = framed
      if (text.nonEmpty) {
        val response =
          try handle(mapper.readTree(text))
          catch {
            case NonFatal(_) =>
              Some(errorResponse(mapper.nullNode(), -32700, "Parse error"))
          }
        response.foreach { r =>
          // write explicit UTF-8 bytes: PrintStream.print would encode in
          // the platform charset, desyncing the byte-counted framing on
          // any non-UTF-8 locale
          val bodyBytes = mapper.writeValueAsString(r).getBytes("UTF-8")
          if (contentLength)
            out.write(s"Content-Length: ${bodyBytes.length}\r\n\r\n".getBytes("UTF-8"))
          out.write(bodyBytes)
          if (!contentLength) out.write('\n')
          out.flush()
        }
      }
      message = readMessage(in)
    }
  }

  /** One inbound message in either stdio framing (reference read_message):
    * a `Content-Length:` header block followed by that many BYTES, or one
    * JSON object per line. Content-Length counts bytes, so the framed body
    * is read from the raw stream with read-exact and only then decoded as
    * UTF-8 — a Reader-based read would count chars and desync on any
    * multibyte payload. Returns (text, wasContentLength), null on EOF. */
  private[mcp] def readMessage(in: java.io.InputStream): (String, Boolean) = {
    var line = readLineBytes(in)
    while (line != null && line.trim.isEmpty) line = readLineBytes(in)
    if (line == null) return null
    val header = line.trim
    if (header.toLowerCase.startsWith("content-length:")) {
      val length = header.substring("content-length:".length).trim.toInt
      // consume the rest of the header block up to the blank line
      var h = readLineBytes(in)
      while (h != null && h.trim.nonEmpty) h = readLineBytes(in)
      val buf = new Array[Byte](length)
      var read = 0
      while (read < length) {
        val n = in.read(buf, read, length - read)
        if (n < 0) return null
        read += n
      }
      (new String(buf, "UTF-8"), true)
    } else (header, false)
  }

  /** Read one `\n`-terminated line as bytes, decode UTF-8; null on EOF
    * with nothing read. A trailing `\r` is stripped by the caller's trim. */
  private def readLineBytes(in: java.io.InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    new String(buf.toByteArray, "UTF-8")
  }

  private lazy val session: SparkSession =
    graft.Sessions.local(4, "ERROR", sys.env.get("SPARK_GRAFT_MASTER"))

  // -- protocol -----------------------------------------------------------

  /** One request/notification → optional response (testable entry). */
  def handle(message: JsonNode): Option[JsonNode] = {
    if (!message.isObject) return None
    val id = Option(message.get("id"))
    val method = Option(message.get("method")).filter(_.isTextual).map(_.asText)
    method match {
      case None => id.map(errorResponse(_, -32600, "Invalid Request"))
      case Some("initialize") => id.map(okResponse(_, initializeResult))
      case Some("tools/list") => id.map(okResponse(_, toolsList))
      case Some("tools/call") =>
        id.map { id =>
          val params = Option(message.get("params")).getOrElse(mapper.nullNode())
          toolsCall(params) match {
            case Right(result) => okResponse(id, result)
            case Left(InvalidParams(msg)) => errorResponse(id, -32602, msg)
            case Left(ToolError(msg, errors)) => okResponse(id, toolErrorResult(msg, errors))
          }
        }
      case Some("resources/list") => id.map(okResponse(_, resourcesList))
      case Some("resources/read") =>
        id.map { id =>
          resourcesRead(Option(message.get("params")).getOrElse(mapper.nullNode())) match {
            case Right(r) => okResponse(id, r)
            case Left(msg) => errorResponse(id, -32602, msg)
          }
        }
      case Some("prompts/list") => id.map(okResponse(_, promptsList))
      case Some("prompts/get") =>
        id.map { id =>
          promptsGet(Option(message.get("params")).getOrElse(mapper.nullNode())) match {
            case Right(r) => okResponse(id, r)
            case Left(msg) => errorResponse(id, -32602, msg)
          }
        }
      case Some("ping") => id.map(okResponse(_, obj()))
      case Some("shutdown") => id.map(okResponse(_, mapper.nullNode()))
      case Some("initialized") => None
      case Some(_) => id.map(errorResponse(_, -32601, "Method not found"))
    }
  }

  private def obj(): ObjectNode = mapper.createObjectNode()
  private def typed(tpe: String): ObjectNode = obj().put("type", tpe)
  private def arr(items: JsonNode*): ArrayNode = {
    val a = mapper.createArrayNode(); items.foreach(a.add); a
  }
  private def text(t: String): JsonNode = mapper.getNodeFactory.textNode(t)

  private def okResponse(id: JsonNode, result: JsonNode): JsonNode = {
    val o = obj()
    o.put("jsonrpc", "2.0")
    o.set[JsonNode]("id", id)
    o.set[JsonNode]("result", result)
    o
  }

  private def errorResponse(id: JsonNode, code: Int, message: String): JsonNode = {
    val o = obj()
    o.put("jsonrpc", "2.0")
    o.set[JsonNode]("id", id)
    val e = obj(); e.put("code", code); e.put("message", message)
    o.set[JsonNode]("error", e)
    o
  }

  private def initializeResult: JsonNode = {
    val o = obj()
    o.put("protocolVersion", ProtocolVersion)
    val caps = obj()
    Seq("tools", "resources", "prompts").foreach { k =>
      val c = obj(); c.put("listChanged", false); caps.set[JsonNode](k, c)
    }
    o.set[JsonNode]("capabilities", caps)
    val info = obj(); info.put("name", "graft-mcp"); info.put("version", "0.2.0")
    o.set[JsonNode]("serverInfo", info)
    o
  }

  private val toolDescriptions = Seq(
    "transform" -> "Transform CSV/JSON input with a YAML rule file.",
    "validate_rules" -> "Validate a YAML rule file.",
    "generate_dto" -> "Generate DTO definitions from a YAML rule file.",
    "list_ops" -> "List supported expression ops, comparisons, and type casts.",
    "analyze_input" -> "Analyze input data and summarize field paths and types.",
    "generate_rules_from_base" -> "Generate rules by mapping input data to existing rule targets.",
    "generate_rules_from_dto" -> "Generate rules by mapping input data to a DTO schema.")

  private val toolParams: Map[String, Seq[(String, String)]] = Map(
    "transform" -> Seq("rules_path" -> "string", "rules_text" -> "string",
      "input_path" -> "string", "input_text" -> "string", "input_json" -> "object|array",
      "context_path" -> "string", "context_json" -> "object", "format" -> "string",
      "ndjson" -> "boolean", "validate" -> "boolean", "output_path" -> "string",
      "max_output_bytes" -> "integer", "preview_rows" -> "integer",
      "return_output_json" -> "boolean"),
    "validate_rules" -> Seq("rules_path" -> "string", "rules_text" -> "string"),
    "generate_dto" -> Seq("rules_path" -> "string", "rules_text" -> "string",
      "language" -> "string", "name" -> "string"),
    "list_ops" -> Nil,
    "analyze_input" -> Seq("input_path" -> "string", "input_text" -> "string",
      "input_json" -> "object|array", "format" -> "string", "records_path" -> "string",
      "max_paths" -> "integer"),
    "generate_rules_from_base" -> Seq("rules_path" -> "string", "rules_text" -> "string",
      "input_path" -> "string", "input_text" -> "string", "input_json" -> "object|array",
      "format" -> "string", "records_path" -> "string", "max_candidates" -> "integer"),
    "generate_rules_from_dto" -> Seq("dto_text" -> "string", "dto_language" -> "string",
      "input_path" -> "string", "input_text" -> "string", "input_json" -> "object|array",
      "format" -> "string", "records_path" -> "string", "max_candidates" -> "integer"))

  private def toolsList: JsonNode = {
    val tools = mapper.createArrayNode()
    toolDescriptions.foreach { case (name, desc) =>
      val t = obj()
      t.put("name", name)
      t.put("description", desc)
      val schema = typed("object")
      val props = obj()
      toolParams(name).foreach { case (p, tpe) =>
        props.set[JsonNode](p, typed(tpe.split("\\|")(0)))
      }
      schema.set[JsonNode]("properties", props)
      t.set[JsonNode]("inputSchema", schema)
      tools.add(t)
    }
    val o = obj(); o.set[JsonNode]("tools", tools); o
  }

  // -- tool dispatch ------------------------------------------------------

  private sealed trait CallError
  private final case class InvalidParams(message: String) extends CallError
  private final case class ToolError(message: String, errors: Option[ArrayNode]) extends CallError

  private def toolsCall(params: JsonNode): Either[CallError, JsonNode] = {
    if (!params.isObject) return Left(InvalidParams("params must be an object"))
    val name = Option(params.get("name")).filter(_.isTextual).map(_.asText)
      .getOrElse(return Left(InvalidParams("params.name is required")))
    val args = Option(params.get("arguments")).filter(_.isObject)
      .getOrElse(return Left(InvalidParams("params.arguments must be an object")))
    name match {
      case "transform" => transformTool(args)
      case "validate_rules" => validateRulesTool(args)
      case "generate_dto" => generateDtoTool(args)
      case "list_ops" => Right(listOpsTool)
      case "analyze_input" => analyzeInputTool(args)
      case "generate_rules_from_base" => generateRulesFromBaseTool(args)
      case "generate_rules_from_dto" => generateRulesFromDtoTool(args)
      case other => Right(toolErrorResult(s"unknown tool: $other", None))
    }
  }

  private def toolErrorResult(message: String, errors: Option[ArrayNode]): JsonNode = {
    val o = contentResult(message)
    o.put("isError", true)
    errors.foreach { e =>
      val meta = obj(); meta.set[JsonNode]("errors", e); o.set[JsonNode]("meta", meta)
    }
    o
  }

  private def contentResult(textBody: String): ObjectNode = {
    val o = obj()
    o.set[JsonNode]("content", arr(typed("text").put("text", textBody)))
    o
  }

  /** The diagnostics' own JSON objects ([[Diagnostic.json]]), as an array. */
  private def diagnostics(ds: Seq[Diagnostic]): ArrayNode =
    arr(ds.map(d => mapper.readTree(d.json)): _*)

  // -- argument helpers ---------------------------------------------------

  private def optString(args: JsonNode, key: String): Either[CallError, Option[String]] =
    Option(args.get(key)) match {
      case None => Right(None)
      case Some(n) if n.isNull => Right(None)
      case Some(n) if n.isTextual => Right(Some(n.asText))
      case Some(_) => Left(InvalidParams(s"$key must be a string"))
    }

  private def optBool(args: JsonNode, key: String): Either[CallError, Boolean] =
    Option(args.get(key)) match {
      case None => Right(false)
      case Some(n) if n.isNull => Right(false)
      case Some(n) if n.isBoolean => Right(n.asBoolean)
      case Some(_) => Left(InvalidParams(s"$key must be a boolean"))
    }

  private def optInt(args: JsonNode, key: String): Either[CallError, Option[Int]] =
    Option(args.get(key)) match {
      case None => Right(None)
      case Some(n) if n.isNull => Right(None)
      case Some(n) if n.isIntegralNumber && n.asLong >= 0 => Right(Some(n.asInt))
      case Some(_) => Left(InvalidParams(s"$key must be a non-negative integer"))
    }

  /** rules_path | rules_text → the rules YAML, plus the path it was read from. */
  private def loadRulesYaml(args: JsonNode): Either[CallError, (String, Option[String])] =
    for {
      rulesPath <- optString(args, "rules_path")
      rulesText <- optString(args, "rules_text")
      _ <- (rulesPath, rulesText) match {
        case (None, None) => Left(InvalidParams("rules_path or rules_text is required"))
        case (Some(_), Some(_)) => Left(InvalidParams("rules_path and rules_text are mutually exclusive"))
        case _ => Right(())
      }
      yaml <- rulesPath match {
        case Some(p) =>
          try Right(Files.readString(Paths.get(p)))
          catch { case NonFatal(e) =>
            Left(ToolError(s"failed to read rules: $e", None)) }
        case None => Right(rulesText.get)
      }
    } yield (yaml, rulesPath)

  private def loadRuleSource(args: JsonNode): Either[CallError, (RuleFileWithYaml, Option[String])] =
    for {
      loaded <- loadRulesYaml(args)
      (yaml, rulesPath) = loaded
      rule <-
        try Right(YamlParser.parse(yaml))
        catch { case NonFatal(e) =>
          Left(ToolError(s"failed to parse rules: ${e.getMessage}", None)) }
    } yield (RuleFileWithYaml(rule, yaml), rulesPath)

  private case class RuleFileWithYaml(rule: Model.RuleFile, yaml: String)

  /** The one of input_path, input_text and input_json the caller passed. */
  private final case class InputSource(path: Option[String], text: Option[String],
      json: Option[JsonNode]) {
    /** The input as text: the file at `path` read, or the text or JSON given. */
    def readText: Either[CallError, String] = path match {
      case Some(p) =>
        try Right(Files.readString(Paths.get(p)))
        catch { case NonFatal(e) => Left(ToolError(s"failed to read input: $e", None)) }
      case None => Right(text.orElse(json.map(mapper.writeValueAsString)).getOrElse(""))
    }
  }

  private def loadInputSource(args: JsonNode): Either[CallError, InputSource] =
    for {
      inputPath <- optString(args, "input_path")
      inputText <- optString(args, "input_text")
      inputJson = Option(args.get("input_json")).filterNot(_.isNull)
      n = inputPath.size + inputText.size + inputJson.size
      _ <- if (n == 0) Left(InvalidParams("input_path, input_text, or input_json is required"))
        else if (n > 1) Left(InvalidParams("input_path, input_text, and input_json are mutually exclusive"))
        else Right(())
    } yield InputSource(inputPath, inputText, inputJson)

  private def checkFormat(args: JsonNode, hasInputJson: Boolean)
      : Either[CallError, Option[String]] =
    optString(args, "format").flatMap {
      case Some(f) if hasInputJson && f.equalsIgnoreCase("csv") =>
        Left(InvalidParams("format must be json when input_json is provided"))
      case Some(f) if !f.equalsIgnoreCase("csv") && !f.equalsIgnoreCase("json") =>
        Left(InvalidParams("format must be csv or json"))
      case f => Right(f.map(_.toLowerCase))
    }

  // -- transform tool -----------------------------------------------------

  private def transformTool(args: JsonNode): Either[CallError, JsonNode] = {
    for {
      loaded <- loadRuleSource(args)
      (rwy, rulesPath) = loaded
      input <- loadInputSource(args)
      // the run reads input_path itself; an unreadable one fails here with
      // the `failed to read input` reply
      _ <- input.path.fold[Either[CallError, Unit]](Right(())) { p =>
        try Right(Files.newInputStream(Paths.get(p)).close())
        catch { case NonFatal(e) => Left(ToolError(s"failed to read input: $e", None)) }
      }
      format <- checkFormat(args, input.json.isDefined)
      ndjson <- optBool(args, "ndjson")
      validate <- optBool(args, "validate")
      outputPath <- optString(args, "output_path")
      maxBytes <- optInt(args, "max_output_bytes")
      previewRows <- optInt(args, "preview_rows")
      returnJson <- optBool(args, "return_output_json")
      contextJson = Option(args.get("context_json")).filterNot(_.isNull)
      contextPath <- optString(args, "context_path")
      _ <- if (contextPath.isDefined && contextJson.isDefined)
        Left(InvalidParams("context_path and context_json are mutually exclusive")) else Right(())
      context <- contextPath match {
        case Some(p) =>
          try Right(graft.Cli.jsonToJValue(mapper.readTree(Files.readString(Paths.get(p)))))
          catch { case NonFatal(e) => Left(ToolError(s"failed to read context: $e", None)) }
        case None => Right(contextJson.map(graft.Cli.jsonToJValue).getOrElse(Model.JNull))
      }
      result <- runTransform(rwy, rulesPath, input, format,
        validate, ndjson, outputPath, maxBytes, previewRows, returnJson, context)
    } yield result
  }

  private def runTransform(rwy: RuleFileWithYaml, rulesPath: Option[String],
      input: InputSource, format: Option[String],
      validate: Boolean, ndjson: Boolean, outputPath: Option[String],
      maxBytes: Option[Int], previewRows: Option[Int], returnJson: Boolean,
      context: Model.JValue): Either[CallError, JsonNode] = {
    val fmt = if (input.json.isDefined) Some("json") else format
    val rule = fmt match {
      case Some(f) => rwy.rule.copy(input = rwy.rule.input.copy(format = f))
      case None => rwy.rule
    }
    if (validate) {
      val errors = Validator.validate(rwy.yaml)
      if (errors.nonEmpty)
        return Left(ToolError(
          errors.map(e => s"E ${e.code} path=${e.path}").mkString("\n"), Some(diagnostics(errors))))
    }
    // given text is staged through a temp file, since the CSV reader needs
    // a path: Spark's csv(Dataset[String]) drops every line equal to the
    // header, and the reference drops only the first
    val staged = if (input.path.isDefined) None else Some(Files.createTempFile("mcp_input", null))
    try {
      staged.foreach(Files.writeString(_, input.readText.getOrElse("")))
      val run = Engine.FileRun(session, rule, input.path.getOrElse(staged.get.toString), context,
        rulesPath.map(p => Engine.loaderBeside(Paths.get(p))).getOrElse(Engine.noLoader))
      val (outputText, warnings) =
        try ExprCompiler.RmError.recover {
          if (ndjson) {
            val items = run.ndjson().toVector
            (items.flatMap(_._1).mkString("\n"), items.flatMap(_._2))
          } else {
            val batch = run.batch()
            (batch.text, batch.warnings)
          }
        } catch {
          case e: ExprCompiler.RmError =>
            return Left(ToolError(s"E ${e.kind} path=${e.path} msg=\"${e.message}\"",
              Some(diagnostics(Seq(e)))))
          case NonFatal(e) => return Left(ToolError(s"transform failed: ${e.getMessage}", None))
        }
      outputPath.foreach { p =>
        val path = Paths.get(p)
        Option(path.getParent).foreach(Files.createDirectories(_))
        Files.writeString(path, outputText)
      }
      val outputBytes = outputText.getBytes("UTF-8").length
      var responseText = outputText
      var truncated = false
      if (ndjson) previewRows.foreach { limit =>
        val lines = responseText.split("\n", -1)
        if (lines.length > limit) { responseText = lines.take(limit).mkString("\n"); truncated = true }
      }
      maxBytes.foreach { max =>
        if (outputBytes > max) truncated = true
        val bytes = responseText.getBytes("UTF-8")
        if (bytes.length > max) { responseText = new String(bytes.take(max), "UTF-8"); truncated = true }
      }
      val result = contentResult(responseText)
      val meta = obj()
      // meta.warnings mirrors the reference's warnings_to_json
      // (rulemorph_mcp main.rs:974-976, :4830-4845)
      if (warnings.nonEmpty) meta.set[JsonNode]("warnings", diagnostics(warnings))
      outputPath.foreach(meta.put("output_path", _))
      if (truncated) { meta.put("output_bytes", outputBytes); meta.put("truncated", true) }
      val exceeds = maxBytes.exists(outputBytes > _)
      if (returnJson && !ndjson && !exceeds)
        meta.set[JsonNode]("output", mapper.readTree(outputText))
      if (meta.size > 0) result.set[JsonNode]("meta", meta)
      Right(result)
    } finally staged.foreach(Files.deleteIfExists)
  }

  // -- validate_rules / generate_dto / list_ops ---------------------------

  private def validateRulesTool(args: JsonNode): Either[CallError, JsonNode] =
    loadRuleSource(args).map { case (rwy, _) =>
      val errors = Validator.validate(rwy.yaml)
      if (errors.isEmpty) contentResult("ok")
      else toolErrorResult("validation failed", Some(diagnostics(errors)))
    }

  private def generateDtoTool(args: JsonNode): Either[CallError, JsonNode] =
    for {
      loaded <- loadRuleSource(args)
      language <- optString(args, "language").flatMap {
        case Some(l) => DtoGenerator.language(l).toRight(InvalidParams(
          "language must be rust, typescript, python, go, java, kotlin, or swift"))
        case None => Left(InvalidParams("language is required"))
      }
      name <- optString(args, "name")
      dto <-
        try Right(DtoGenerator.generate(loaded._1.rule, language, name))
        catch { case NonFatal(e) =>
          Left(ToolError(s"failed to generate dto: ${e.getMessage}", None)) }
    } yield {
      val result = contentResult(dto)
      val meta = obj()
      meta.put("language", language.toString.toLowerCase)
      name.foreach(meta.put("name", _))
      result.set[JsonNode]("meta", meta)
      result
    }

  /** The op table's groups ([[ExprCompiler.listed]]). `expr_ops` lists
    * the string ops, the ops listed there alone, then those of the other
    * four categories, each name once. */
  private lazy val listOpsTool: JsonNode = {
    import ExprCompiler.Op._
    def names(groups: String*): ArrayNode =
      arr(groups.flatMap(ExprCompiler.listed).distinct.map(text): _*)
    val grouped = Seq(Strings, Json, Arrays, Numeric, Dates)
    val ops = obj()
    ops.set[JsonNode](Other, names(Strings +: Other +: grouped.tail: _*))
    val categories = obj()
    grouped.foreach(g => categories.set[JsonNode](g, names(g)))
    ops.set[JsonNode]("categories", categories)
    Seq(Logical, Comparison, Casts).foreach(g => ops.set[JsonNode](g, names(g)))
    val result = contentResult(
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(ops))
    val meta = obj(); meta.set[JsonNode]("ops", ops)
    result.set[JsonNode]("meta", meta)
    result
  }

  // -- analyze_input ------------------------------------------------------

  private def parseRecords(inputText: String, inputJson: Option[JsonNode],
      format: Option[String], recordsPath: Option[String])
      : Either[CallError, Seq[JsonNode]] =
    inputJson match {
      case Some(v) => InputAnalysis.jsonRecords(v, recordsPath)
        .left.map(m => ToolError(m, None))
      case None => InputAnalysis.normalizeFormat(format, inputText) match {
        case "json" =>
          val v =
            try mapper.readTree(inputText)
            catch { case NonFatal(e) =>
              return Left(ToolError(s"failed to parse input JSON: ${e.getMessage}", None)) }
          InputAnalysis.jsonRecords(v, recordsPath).left.map(m => ToolError(m, None))
        case _ =>
          try Right(InputAnalysis.csvRecords(inputText))
          catch { case NonFatal(e) =>
            Left(ToolError(s"failed to parse input CSV: ${e.getMessage}", None)) }
      }
    }

  private def analyzeInputTool(args: JsonNode): Either[CallError, JsonNode] =
    for {
      input <- loadInputSource(args)
      inputText <- input.readText
      inputJson = input.json
      format <- checkFormat(args, inputJson.isDefined)
      recordsPath <- optString(args, "records_path")
      maxPaths <- optInt(args, "max_paths")
      records <- parseRecords(inputText, inputJson, format, recordsPath)
    } yield {
      val stats = InputAnalysis.analyzeRecords(records, maxPaths)
      val meta = obj()
      val summary = obj()
      summary.put("records", records.size)
      summary.put("paths", stats.size)
      meta.set[JsonNode]("summary", summary)
      meta.set[JsonNode]("paths", InputAnalysis.statsToJson(stats))
      val result = contentResult(
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta))
      result.set[JsonNode]("meta", meta)
      result
    }

  // -- generate_rules_from_base -------------------------------------------

  private def candidatesJson(candidates: Seq[InputAnalysis.Candidate]): ArrayNode =
    arr(candidates.map { c =>
      obj().put("source", c.source).put("score", c.score)
        .put("reason", c.reason).put("confidence", c.confidence): JsonNode
    }: _*)

  /** The base rules may legitimately hold target-only mappings (the whole
    * point is to fill their sources in), which the strict rule parser
    * rejects — so this tool works directly on the YAML tree. */
  private def loadYamlTree(args: JsonNode)
      : Either[CallError, (java.util.Map[String, Any], String)] =
    for {
      loaded <- loadRulesYaml(args)
      (yaml, _) = loaded
      root <-
        try yamlIo.load[Any](yaml) match {
          case m: java.util.Map[_, _] => Right(m.asInstanceOf[java.util.Map[String, Any]])
          case _ => Left(ToolError("failed to parse rules yaml: not a mapping", None))
        }
        catch { case NonFatal(e) =>
          Left(ToolError(s"failed to parse rules yaml: ${e.getMessage}", None)) }
    } yield (root, yaml)

  private def generateRulesFromBaseTool(args: JsonNode): Either[CallError, JsonNode] =
    for {
      loaded <- loadYamlTree(args)
      (yamlRoot, _) = loaded
      input <- loadInputSource(args)
      inputText <- input.readText
      inputJson = input.json
      format <- checkFormat(args, inputJson.isDefined)
      recordsPathArg <- optString(args, "records_path")
      maxCandidates <- optInt(args, "max_candidates").map(_.getOrElse(3))
      inputSpec = Option(yamlRoot.get("input"))
        .collect { case m: java.util.Map[_, _] => m.asInstanceOf[java.util.Map[String, Any]] }
      recordsPath = recordsPathArg.orElse(
        inputSpec.flatMap(in => Option(in.get("json")))
          .collect { case m: java.util.Map[_, _] => m.asInstanceOf[java.util.Map[String, Any]] }
          .flatMap(j => Option(j.get("records_path")).map(_.toString)))
      ruleFormat = inputSpec.flatMap(in => Option(in.get("format")).map(_.toString))
      parseFormat = if (inputJson.isDefined) Some("json")
        else format.orElse(ruleFormat.orElse(Some("json")))
      records <- parseRecords(inputText, inputJson, parseFormat, recordsPath)
    } yield {
      val stats = InputAnalysis.analyzeRecords(records, None)
      val inputPaths = InputAnalysis.buildInputPaths(stats)
      val inputPathSet = inputPaths.map(_.path).toSet

      val root = yamlRoot
      val mappingsList = Option(root.get("mappings"))
        .collect { case l: java.util.List[_] => l.asInstanceOf[java.util.List[Any]] }
        .getOrElse(new java.util.ArrayList[Any]())

      val candidatesMeta = mapper.createArrayNode()
      val unmapped = mapper.createArrayNode()
      val missingRefs = mapper.createArrayNode()
      val seenMissing = scala.collection.mutable.Set.empty[String]
      var mapped = 0; var withExpr = 0; var withValue = 0; var unmappedN = 0

      mappingsList.asScala.zipWithIndex.foreach {
        case (m: java.util.Map[_, _], idx) =>
          val mm = m.asInstanceOf[java.util.Map[String, Any]]
          val target = Option(mm.get("target")).map(_.toString).getOrElse("")
          // flag source refs pointing at paths absent from the sample
          Option(mm.get("source")).map(_.toString)
            .filter(s => !inputPathSet.contains(s) && seenMissing.add(s))
            .foreach { s =>
              val o = obj(); o.put("ref", s); o.put("target", target); missingRefs.add(o)
            }
          if (mm.containsKey("expr")) withExpr += 1
          else if (mm.containsKey("value")) withValue += 1
          else {
            val targetLeaf = InputAnalysis.leafFromPath(target).getOrElse("")
            val candidates = InputAnalysis.selectCandidates(targetLeaf,
              Option(mm.get("source")).map(_.toString),
              Option(mm.get("type")).map(_.toString), inputPaths, maxCandidates)
            val entry = obj()
            entry.put("target", target)
            entry.set[JsonNode]("candidates", candidatesJson(candidates))
            candidates.headOption match {
              case Some(best) =>
                mapped += 1
                mm.put("source", best.source)
                entry.put("selected", best.source)
                entry.put("confidence", best.confidence)
              case None =>
                unmappedN += 1
                unmapped.add(target)
                mm.put("source", null)
            }
            candidatesMeta.add(entry)
          }
        case _ => ()
      }

      val outputText = yamlIo.dump(root)
      val result = contentResult(outputText)
      val meta = obj()
      val summary = obj()
      summary.put("total", mappingsList.size)
      summary.put("mapped", mapped)
      summary.put("unmapped", unmappedN)
      summary.put("with_expr", withExpr)
      summary.put("with_value", withValue)
      meta.set[JsonNode]("summary", summary)
      meta.set[JsonNode]("candidates", candidatesMeta)
      if (unmapped.size > 0) meta.set[JsonNode]("unmapped", unmapped)
      if (missingRefs.size > 0) meta.set[JsonNode]("missing_refs", missingRefs)
      result.set[JsonNode]("meta", meta)
      result
    }

  // -- generate_rules_from_dto --------------------------------------------

  private def generateRulesFromDtoTool(args: JsonNode): Either[CallError, JsonNode] =
    for {
      dtoText <- optString(args, "dto_text").flatMap(
        _.toRight(InvalidParams("dto_text is required")))
      dtoLanguage <- optString(args, "dto_language").flatMap(
        _.toRight(InvalidParams("dto_language is required")))
      input <- loadInputSource(args)
      inputText <- input.readText
      inputJson = input.json
      format <- checkFormat(args, inputJson.isDefined)
      recordsPath <- optString(args, "records_path")
      maxCandidates <- optInt(args, "max_candidates").map(_.getOrElse(3))
      records <- parseRecords(inputText, inputJson, format, recordsPath)
      schema <- DtoSchemaParser.parse(dtoText, dtoLanguage)
        .left.map(m =>
          if (m.startsWith("dto_language")) InvalidParams(m) else ToolError(m, None))
      generated <- DtoSchemaParser.generateMappings(schema)
        .left.map(m => ToolError(m, None): CallError)
    } yield {
      val stats = InputAnalysis.analyzeRecords(records, None)
      val inputPaths = InputAnalysis.buildInputPaths(stats)

      val candidatesMeta = mapper.createArrayNode()
      val unmapped = mapper.createArrayNode()
      var mapped = 0
      val mappingsYaml = new java.util.ArrayList[Any]()
      generated.foreach { g =>
        val targetLeaf = InputAnalysis.leafFromPath(g.target).getOrElse("")
        val candidates = InputAnalysis.selectCandidates(targetLeaf, None,
          g.valueType, inputPaths, maxCandidates)
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("target", g.target)
        g.valueType.foreach(m.put("type", _))
        val entry = obj()
        entry.put("target", g.target)
        entry.set[JsonNode]("candidates", candidatesJson(candidates))
        candidates.headOption match {
          case Some(best) =>
            mapped += 1
            m.put("source", best.source)
            if (g.required) m.put("required", java.lang.Boolean.TRUE)
            entry.put("selected", best.source)
            entry.put("confidence", best.confidence)
          case None =>
            unmapped.add(g.target)
            m.put("value", null)
            m.put("required", java.lang.Boolean.FALSE)
        }
        mappingsYaml.add(m)
        candidatesMeta.add(entry)
      }

      val formatStr =
        if (inputJson.isDefined) "json"
        else format.getOrElse(InputAnalysis.normalizeFormat(None, inputText))
      val inputYaml = new java.util.LinkedHashMap[String, Any]()
      inputYaml.put("format", formatStr)
      if (formatStr == "json") {
        val jsonSpec = new java.util.LinkedHashMap[String, Any]()
        recordsPath.foreach(jsonSpec.put("records_path", _))
        inputYaml.put("json", jsonSpec)
      }
      val root = new java.util.LinkedHashMap[String, Any]()
      root.put("version", Integer.valueOf(1))
      root.put("input", inputYaml)
      root.put("mappings", mappingsYaml)
      val outputText = yamlIo.dump(root)

      val result = contentResult(outputText)
      val meta = obj()
      val summary = obj()
      summary.put("total", generated.size)
      summary.put("mapped", mapped)
      summary.put("unmapped", unmapped.size)
      meta.set[JsonNode]("summary", summary)
      meta.set[JsonNode]("candidates", candidatesMeta)
      if (unmapped.size > 0) meta.set[JsonNode]("unmapped", unmapped)
      result.set[JsonNode]("meta", meta)
      result
    }

  // -- resources / prompts ------------------------------------------------

  private val resourceFiles = Seq(
    ("graft://docs/readme", "readme", "Project README.", "README.md"),
    ("graft://docs/implementation", "implementation",
      "Implementation notes and operator coverage map.", "IMPLEMENTATION.md"))

  private def resourcesList: JsonNode = {
    val resources = mapper.createArrayNode()
    resourceFiles.foreach { case (uri, name, desc, _) =>
      val r = obj()
      r.put("uri", uri); r.put("name", name)
      r.put("description", desc); r.put("mimeType", "text/markdown")
      resources.add(r)
    }
    val o = obj(); o.set[JsonNode]("resources", resources); o
  }

  private def resourcesRead(params: JsonNode): Either[String, JsonNode] = {
    if (!params.isObject) return Left("params must be an object")
    val uri = Option(params.get("uri")).filter(_.isTextual).map(_.asText)
      .getOrElse(return Left("params.uri is required"))
    resourceFiles.find(_._1 == uri) match {
      case Some((_, _, _, file)) =>
        val body =
          try Files.readString(Paths.get(file))
          catch { case NonFatal(_) => "" }
        val c = obj()
        c.put("uri", uri); c.put("mimeType", "text/markdown"); c.put("text", body)
        val o = obj(); o.set[JsonNode]("contents", arr(c))
        Right(o)
      case None => Left("unknown resource uri")
    }
  }

  private val prompts = Seq(
    ("rule_from_input_base", "Generate rules from base rules and input samples.",
      Seq(("rules_text", "Base rules YAML.", true),
        ("input_sample", "Input sample (JSON/CSV).", true),
        ("format", "Input format (json or csv).", false),
        ("records_path", "Records path for JSON input.", false)),
      """You are generating a rules YAML file.
        |The base rules define the output shape. Keep existing expr/value/default/required unless mapping is unresolved.
        |Use the input sample to map sources. Unmapped targets must use value: null and required: false.
        |Return YAML only.
        |
        |Base rules:
        |{{rules_text}}
        |
        |Input sample:
        |{{input_sample}}
        |
        |Optional format: {{format}}
        |Optional records_path: {{records_path}}
        |""".stripMargin),
    ("rule_from_dto", "Generate rules from DTO schema and input samples.",
      Seq(("dto_text", "DTO source text.", true),
        ("dto_language", "DTO language (rust/typescript/python/go/java/kotlin/swift).", true),
        ("input_sample", "Input sample (JSON/CSV).", true),
        ("format", "Input format (json or csv).", false),
        ("records_path", "Records path for JSON input.", false)),
      """You are generating a rules YAML file whose output matches the DTO schema.
        |Use the input sample to map sources. Unmapped targets must use value: null and required: false.
        |Return YAML only.
        |
        |DTO:
        |{{dto_text}}
        |
        |DTO language: {{dto_language}}
        |
        |Input sample:
        |{{input_sample}}
        |
        |Optional format: {{format}}
        |Optional records_path: {{records_path}}
        |""".stripMargin),
    ("explain_errors", "Explain validation/transform errors and suggest fixes.",
      Seq(("errors_json", "Errors array from tool output.", true),
        ("rules_text", "Optional rules YAML for context.", false)),
      """Explain the following validation/transform errors and suggest fixes.
        |
        |Errors:
        |{{errors_json}}
        |
        |Rules (optional):
        |{{rules_text}}
        |""".stripMargin))

  private def promptsList: JsonNode = {
    val list = mapper.createArrayNode()
    prompts.foreach { case (name, desc, promptArgs, _) =>
      val p = obj()
      p.put("name", name); p.put("description", desc)
      val argsArr = mapper.createArrayNode()
      promptArgs.foreach { case (argName, argDesc, required) =>
        val a = obj()
        a.put("name", argName); a.put("description", argDesc); a.put("required", required)
        argsArr.add(a)
      }
      p.set[JsonNode]("arguments", argsArr)
      list.add(p)
    }
    val o = obj(); o.set[JsonNode]("prompts", list); o
  }

  private def promptsGet(params: JsonNode): Either[String, JsonNode] = {
    if (!params.isObject) return Left("params must be an object")
    val name = Option(params.get("name")).filter(_.isTextual).map(_.asText)
      .getOrElse(return Left("params.name is required"))
    prompts.find(_._1 == name) match {
      case Some((_, desc, _, template)) =>
        var content = template
        Option(params.get("arguments")).filter(_.isObject).foreach { args =>
          args.properties.asScala.foreach { e =>
            val v = if (e.getValue.isTextual) e.getValue.asText else e.getValue.toString
            content = content.replace(s"{{${e.getKey}}}", v)
          }
        }
        val o = obj()
        o.put("description", desc)
        val msg = obj(); msg.put("role", "user"); msg.put("content", content)
        o.set[JsonNode]("messages", arr(msg))
        Right(o)
      case None => Left("unknown prompt name")
    }
  }
}
