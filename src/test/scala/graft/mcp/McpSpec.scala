package graft.mcp

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** MCP server contract tests mirroring the reference's stdio suite
  * (crates/rulemorph_mcp/tests/stdio.rs), driven directly through
  * [[Mcp.handle]] — same requests, same response shapes. */
class McpSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def call(json: String): JsonNode =
    Mcp.handle(mapper.readTree(json)).getOrElse(fail("expected a response"))

  private def toolCall(name: String, arguments: String): JsonNode = {
    val r = call(
      s"""{"jsonrpc":"2.0","id":9,"method":"tools/call",
         |"params":{"name":"$name","arguments":$arguments}}""".stripMargin)
    r.path("result")
  }

  test("initialize returns protocol version and capabilities") {
    val r = call("""{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""")
    assert(r.path("result").path("protocolVersion").asText == "2024-11-05")
    assert(r.path("result").path("capabilities").has("tools"))
  }

  test("tools/list exposes the seven tools") {
    val r = call("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
    val names = r.path("result").path("tools").elements.asScala.map(_.path("name").asText).toSet
    assert(names == Set("transform", "validate_rules", "generate_dto", "list_ops",
      "analyze_input", "generate_rules_from_base", "generate_rules_from_dto"))
  }

  test("unknown method yields -32601; notification yields no response") {
    val r = call("""{"jsonrpc":"2.0","id":3,"method":"nope"}""")
    assert(r.path("error").path("code").asInt == -32601)
    assert(Mcp.handle(mapper.readTree("""{"jsonrpc":"2.0","method":"initialized"}""")).isEmpty)
  }

  test("transform tool: rules_text + input_text end to end (stdio.rs transform_json_success)") {
    val result = toolCall("transform",
      """{"rules_text": "version: 1\ninput:\n  format: json\n  json: {}\nmappings:\n  - target: \"id\"\n    source: \"id\"\n",
        | "input_text": "{\"id\": 1}"}""".stripMargin)
    val text = result.path("content").get(0).path("text").asText
    assert(mapper.readTree(text) == mapper.readTree("""[{"id":1}]"""))
    assert(!result.path("isError").asBoolean(false))
  }

  test("transform tool: input_json + return_output_json meta") {
    val result = toolCall("transform",
      """{"rules_text": "version: 1\ninput:\n  format: json\n  json: {}\nmappings:\n  - target: \"n\"\n    source: \"n\"\n    type: int\n",
        | "input_json": [{"n": "41"}, {"n": "42"}],
        | "return_output_json": true}""".stripMargin)
    assert(result.path("meta").path("output") ==
      mapper.readTree("""[{"n":41},{"n":42}]"""))
  }

  test("transform tool: runtime error surfaces as isError with kind") {
    val result = toolCall("transform",
      """{"rules_text": "version: 1\ninput:\n  format: json\n  json: {}\nmappings:\n  - target: \"v\"\n    source: \"v\"\n    type: int\n",
        | "input_text": "[{\"v\": \"abc\"}]"}""".stripMargin)
    assert(result.path("isError").asBoolean)
    val kind = result.path("meta").path("errors").get(0).path("kind").asText
    assert(kind == "TypeCastFailed")
  }

  test("transform tool: ndjson mode rejects finalize like the stream shape") {
    val result = toolCall("transform",
      """{"rules_text": "version: 1\ninput:\n  format: json\n  json: {}\nmappings:\n  - target: \"id\"\n    source: \"id\"\nfinalize:\n  limit: 1\n",
        | "input_text": "[{\"id\": 1}, {\"id\": 2}]", "ndjson": true}""".stripMargin)
    assert(result.path("isError").asBoolean)
    val e = result.path("meta").path("errors").get(0)
    assert(e.path("kind").asText == "InvalidInput")
    assert(e.path("message").asText == "finalize is not supported in stream mode")
    assert(!e.has("path"), e) // an empty path is left out, as the CLI does
    // without ndjson the same rule applies finalize normally
    val ok = toolCall("transform",
      """{"rules_text": "version: 1\ninput:\n  format: json\n  json: {}\nmappings:\n  - target: \"id\"\n    source: \"id\"\nfinalize:\n  limit: 1\n",
        | "input_text": "[{\"id\": 1}, {\"id\": 2}]"}""".stripMargin)
    assert(ok.path("content").get(0).path("text").asText == """[{"id":1}]""")
  }

  test("transform tool: the CLI's output, warnings and errors for input_path and input_text") {
    // the same rule and input through `Cli.run transform -e json` and the
    // MCP tool: the same output text, the same warning objects, the same
    // error object
    def cli(args: String*): (Int, String, String) = {
      val out = new java.io.ByteArrayOutputStream(); val err = new java.io.ByteArrayOutputStream()
      val code = graft.Cli.run(Seq("transform", "-e", "json") ++ args,
        new java.io.PrintStream(out, true), new java.io.PrintStream(err, true))
      (code, out.toString, err.toString)
    }
    // the CLI's diagnostic arrays (one per NDJSON item) as one array
    def cliDiagnostics(err: String): JsonNode = {
      val all = mapper.createArrayNode()
      err.linesIterator.filter(_.nonEmpty).foreach(l => mapper.readTree(l).elements.asScala.foreach(all.add))
      all
    }
    def parity(rules: java.nio.file.Path, input: java.nio.file.Path, ndjson: Boolean): Unit = {
      val (code, out, err) = cli(Seq("-r", rules.toString, "-i", input.toString) ++
        (if (ndjson) Seq("--ndjson") else Nil): _*)
      val flag = if (ndjson) ""","ndjson":true""" else ""
      for (source <- Seq(
          s""""input_path":${mapper.writeValueAsString(input.toString)}""",
          s""""input_text":${mapper.writeValueAsString(Files.readString(input))}""")) {
        val result = toolCall("transform",
          s"""{"rules_path":${mapper.writeValueAsString(rules.toString)},$source$flag}""")
        val label = s"$rules $source ndjson=$ndjson"
        if (code == 0) {
          assert(!result.path("isError").asBoolean(false), label)
          assert(result.path("content").get(0).path("text").asText == out.stripSuffix("\n"), label)
          val warnings = result.path("meta").path("warnings")
          assert((if (warnings.isMissingNode) mapper.createArrayNode() else warnings) ==
            cliDiagnostics(err), label)
        } else {
          assert(code == 3 && result.path("isError").asBoolean, s"$label: $code $err")
          assert(result.path("meta").path("errors") == mapper.readTree(err), label)
        }
      }
    }
    val t01 = graft.rules.Fixtures.inRepo("t01_csv_basic")
    parity(t01.path("rules.yaml"), t01.path("input.csv"), ndjson = false)
    val t12 = graft.rules.Fixtures.inRepo("t12_ndjson_csv")
    parity(t12.path("rules.yaml"), t12.path("input.csv"), ndjson = true)

    val dir = Files.createTempDirectory("mcp_parity")
    val warnRule = Files.writeString(dir.resolve("warn.yaml"),
      """version: 1
        |input: { format: json }
        |mappings:
        |  - target: "flag"
        |    value: "big"
        |    when:
        |      op: ">"
        |      args: [ { op: "int", args: [ { ref: "input.n" } ] }, 5 ]
        |""".stripMargin)
    val warnInput = Files.writeString(dir.resolve("warn.json"),
      """[{"n": "abc"}, {"n": "10"}, {"n": "xyz"}]""")
    parity(warnRule, warnInput, ndjson = false)
    parity(warnRule, warnInput, ndjson = true)
    val castRule = Files.writeString(dir.resolve("cast.yaml"),
      """version: 1
        |input: { format: json }
        |mappings:
        |  - target: "v"
        |    source: "v"
        |    type: int
        |""".stripMargin)
    val castInput = Files.writeString(dir.resolve("cast.json"), """[{"v": "1"}, {"v": "abc"}]""")
    assert(cli("-r", castRule.toString, "-i", castInput.toString)._3.contains("TypeCastFailed"))
    parity(castRule, castInput, ndjson = false)
    // a rule error raised while compiling, not from a task
    val p05 = graft.rules.Fixtures.inRepo("p05_preflight_finalize_sort_missing")
    parity(p05.path("rules.yaml"), p05.path("input.json"), ndjson = false)
  }

  test("transform tool: missing input params is invalid params (-32602)") {
    val r = call(
      """{"jsonrpc":"2.0","id":9,"method":"tools/call",
        |"params":{"name":"transform","arguments":{"rules_text":"version: 1\ninput:\n  format: json\n  json: {}\nmappings:\n  - target: a\n    source: a\n"}}}""".stripMargin)
    assert(r.path("error").path("code").asInt == -32602)
  }

  test("validate_rules: ok and validation-failure shapes") {
    val ok = toolCall("validate_rules",
      """{"rules_text": "version: 1\ninput:\n  format: json\n  json: {}\nmappings:\n  - target: a\n    source: a\n"}""")
    assert(ok.path("content").get(0).path("text").asText == "ok")
    val bad = toolCall("validate_rules",
      """{"rules_text": "version: 1\ninput:\n  format: json\n  json: {}\nmappings:\n  - target: a\n    source: a\n  - target: a\n    source: b\n"}""")
    assert(bad.path("isError").asBoolean)
    assert(bad.path("meta").path("errors").get(0).path("code").asText == "DuplicateTarget")
  }

  test("generate_dto tool matches the DtoGenerator output") {
    for (c <- graft.rules.Fixtures.cases("dto02_steps")) {
      val rulesText = c.read("rules.yaml").replace("\"", "\\\"").replace("\n", "\\n")
      val result = toolCall("generate_dto",
        s"""{"rules_text": "$rulesText", "language": "rust"}""")
      val want = c.read("expected_rust.rs").replaceAll("\\s+$", "")
      assert(result.path("content").get(0).path("text").asText == want, c.label)
      assert(result.path("meta").path("language").asText == "rust")
    }
  }

  test("list_ops reports ops, comparisons, and casts") {
    // the whole result, pinned: `meta.ops` and the content text that
    // pretty-prints it. `first`, `last`, `lookup_all` and the spelled-out
    // arithmetic names (`add`, `subtract`, `multiply`, `divide`) compile
    // but are not listed.
    val want =
      """{
         |  "expr_ops" : [ "concat", "to_string", "trim", "lowercase", "uppercase", "replace", "split", "pad_start", "pad_end", "coalesce", "lookup", "lookup_first", "merge", "deep_merge", "get", "pick", "omit", "keys", "values", "entries", "len", "from_entries", "object_flatten", "object_unflatten", "map", "filter", "flat_map", "flatten", "take", "drop", "slice", "chunk", "zip", "zip_with", "unzip", "group_by", "key_by", "partition", "unique", "distinct_by", "sort_by", "find", "find_index", "index_of", "contains", "sum", "avg", "min", "max", "reduce", "fold", "+", "-", "*", "/", "round", "to_base", "date_format", "to_unixtime" ],
         |  "categories" : {
         |    "string_ops" : [ "concat", "to_string", "trim", "lowercase", "uppercase", "replace", "split", "pad_start", "pad_end" ],
         |    "json_ops" : [ "merge", "deep_merge", "get", "pick", "omit", "keys", "values", "entries", "len", "from_entries", "object_flatten", "object_unflatten" ],
         |    "array_ops" : [ "map", "filter", "flat_map", "flatten", "take", "drop", "slice", "chunk", "zip", "zip_with", "unzip", "group_by", "key_by", "partition", "unique", "distinct_by", "sort_by", "find", "find_index", "index_of", "contains", "sum", "avg", "min", "max", "reduce", "fold" ],
         |    "numeric_ops" : [ "+", "-", "*", "/", "round", "to_base", "sum", "avg", "min", "max" ],
         |    "date_ops" : [ "date_format", "to_unixtime" ]
         |  },
         |  "logical_ops" : [ "and", "or", "not" ],
         |  "comparison_ops" : [ "==", "!=", "<", "<=", ">", ">=", "~=" ],
         |  "type_casts" : [ "string", "int", "float", "bool" ]
         |}""".stripMargin
    val result = toolCall("list_ops", "{}")
    assert(result.path("content").get(0).path("text").asText == want)
    assert(result.path("meta").path("ops") == mapper.readTree(want))
  }

  test("analyze_input: path stats with types, counts, and examples") {
    val result = toolCall("analyze_input",
      """{"input_json": [
        |  {"id": 1, "user": {"name": "a"}, "tags": ["x"]},
        |  {"id": 2, "user": {"name": "b"}, "price": 9.5}
        |]}""".stripMargin)
    val meta = result.path("meta")
    assert(meta.path("summary").path("records").asInt == 2)
    val paths = meta.path("paths").elements.asScala
      .map(p => p.path("path").asText -> p).toMap
    assert(paths("id").path("count").asInt == 2)
    assert(paths("id").path("types").path("number").asInt == 2)
    assert(paths("user.name").path("count").asInt == 2)
    assert(paths("tags").path("types").has("array"))
  }

  test("analyze_input: csv text with sniffed cell types") {
    val result = toolCall("analyze_input",
      """{"input_text": "id,name,active\n1,Apple,true\n2,Banana,false\n", "format": "csv"}""")
    val paths = result.path("meta").path("paths").elements.asScala
      .map(p => p.path("path").asText -> p).toMap
    assert(paths("id").path("types").path("number").asInt == 2)
    assert(paths("active").path("types").path("bool").asInt == 2)
    assert(paths("name").path("types").path("string").asInt == 2)
  }

  test("generate_rules_from_base maps unresolved targets to input sources") {
    val result = toolCall("generate_rules_from_base",
      """{"rules_text": "version: 1\ninput:\n  format: json\n  json: {}\nmappings:\n  - target: \"user_id\"\n  - target: \"name\"\n  - target: \"missing_thing\"\n  - target: \"fixed\"\n    value: 1\n",
        | "input_json": [{"user_id": 7, "name": "a", "extra": true}]}""".stripMargin)
    val meta = result.path("meta")
    assert(meta.path("summary").path("mapped").asInt == 2)
    assert(meta.path("summary").path("with_value").asInt == 1)
    assert(meta.path("summary").path("unmapped").asInt == 1)
    // the draft YAML keeps the unmapped target as a null-source placeholder,
    // so it is inspected as a tree, not through the strict rule parser
    val yaml = result.path("content").get(0).path("text").asText
    val tree = new org.yaml.snakeyaml.Yaml().load[Any](yaml)
      .asInstanceOf[java.util.Map[String, Any]]
    val mappings = tree.get("mappings").asInstanceOf[java.util.List[Any]].asScala
      .map(_.asInstanceOf[java.util.Map[String, Any]])
    assert(mappings.exists(m => m.get("target") == "user_id" && m.get("source") == "user_id"))
    assert(mappings.exists(m => m.get("target") == "missing_thing" && m.get("source") == null))
    // the mapped target points at the matching input path
    val cand = meta.path("candidates").elements.asScala
      .find(_.path("target").asText == "user_id").get
    assert(cand.path("selected").asText == "user_id")
    assert(cand.path("confidence").asText == "medium") // leaf match 0.8, no type boost
  }

  test("generate_rules_from_dto: typescript DTO to rules yaml") {
    val dto = "export interface Record {\\n  id: string;\\n  userName?: string;\\n  score: number;\\n}"
    val result = toolCall("generate_rules_from_dto",
      s"""{"dto_text": "$dto", "dto_language": "typescript",
         | "input_json": [{"id": "a", "userName": "x", "score": 3, "noise": 1}]}""".stripMargin)
    val meta = result.path("meta")
    assert(meta.path("summary").path("total").asInt == 3)
    assert(meta.path("summary").path("mapped").asInt == 3)
    val yaml = result.path("content").get(0).path("text").asText
    val rule = graft.rules.YamlParser.parse(yaml)
    assert(rule.mappings.size == 3)
    val byTarget = rule.mappings.map(m => m.target.mkString(".") -> m).toMap
    assert(byTarget("id").castTo.contains("string"))
    assert(byTarget("id").required) // non-optional DTO field
    assert(byTarget("score").castTo.contains("float")) // ts number
    assert(!byTarget("userName").required) // optional DTO field
  }

  test("generate_rules_from_dto: rust DTO with serde renames") {
    val dto = Seq(
      "use serde::{Deserialize, Serialize};",
      "#[derive(Debug, Clone, Serialize, Deserialize)]",
      "pub struct Record {",
      "    pub id: String,",
      "    #[serde(default, skip_serializing_if = \\\"Option::is_none\\\", rename = \\\"user-name\\\")]",
      "    pub user_name: Option<String>,",
      "    pub score: i64,",
      "}").mkString("\\n")
    val result = toolCall("generate_rules_from_dto",
      s"""{"dto_text": "$dto", "dto_language": "rust",
         | "input_json": [{"id": "a", "user-name": "x", "score": 3}]}""".stripMargin)
    val yaml = result.path("content").get(0).path("text").asText
    val rule = graft.rules.YamlParser.parse(yaml)
    val byTarget = rule.mappings.map(m => m.target.mkString(".") -> m).toMap
    assert(byTarget.contains("user-name"))
    assert(!byTarget("user-name").required)
    assert(byTarget("score").castTo.contains("int"))
  }

  test("stdio framing: line-delimited and Content-Length messages both parse") {
    def reader(s: String) = new java.io.ByteArrayInputStream(s.getBytes("UTF-8"))
    val lineMsg = Mcp.readMessage(reader("""{"jsonrpc":"2.0","id":1,"method":"ping"}""" + "\n"))
    assert(lineMsg == ("""{"jsonrpc":"2.0","id":1,"method":"ping"}""", false))
    val body = """{"jsonrpc":"2.0","id":2,"method":"ping"}"""
    val framed = Mcp.readMessage(reader(s"Content-Length: ${body.length}\r\n\r\n$body"))
    assert(framed == (body, true))
    assert(Mcp.readMessage(reader("")) == null)
  }

  test("Content-Length framing is byte-exact for multibyte UTF-8 payloads") {
    // 日本語 rules_text: char count < byte count; a Reader-based read
    // would under-consume and desync the next message
    val body = """{"jsonrpc":"2.0","id":3,"method":"ping","note":"日本語テスト"}"""
    val bytes = body.getBytes("UTF-8")
    assert(bytes.length > body.length)
    val next = """{"jsonrpc":"2.0","id":4,"method":"ping"}"""
    val stream = new java.io.ByteArrayInputStream(
      (s"Content-Length: ${bytes.length}\r\n\r\n$body" +
        s"Content-Length: ${next.length}\r\n\r\n$next").getBytes("UTF-8"))
    assert(Mcp.readMessage(stream) == (body, true))
    assert(Mcp.readMessage(stream) == (next, true))
    assert(Mcp.readMessage(stream) == null)
  }

  test("resources and prompts round-trip") {
    val list = call("""{"jsonrpc":"2.0","id":5,"method":"resources/list"}""")
    val uris = list.path("result").path("resources").elements.asScala
      .map(_.path("uri").asText).toSeq
    assert(uris.nonEmpty)
    val read = call(
      s"""{"jsonrpc":"2.0","id":6,"method":"resources/read","params":{"uri":"${uris.head}"}}""")
    assert(read.path("result").path("contents").get(0).path("uri").asText == uris.head)
    val prompts = call("""{"jsonrpc":"2.0","id":7,"method":"prompts/list"}""")
    val names = prompts.path("result").path("prompts").elements.asScala
      .map(_.path("name").asText).toSet
    assert(names == Set("rule_from_input_base", "rule_from_dto", "explain_errors"))
    val got = call(
      """{"jsonrpc":"2.0","id":8,"method":"prompts/get",
        |"params":{"name":"explain_errors","arguments":{"errors_json":"[]"}}}""".stripMargin)
    val content = got.path("result").path("messages").get(0).path("content").asText
    assert(content.contains("Errors:\n[]"))
  }

  test("repeated transform with identical rules_text parses the rule once (LRU, lib.rs:37-59)") {
    // unique rules text so earlier tests' cache entries can't interfere
    val rules = "version: 1\ninput:\n  format: json\n  json: {}\nmappings:\n" +
      "  - target: \"lru_probe\"\n    source: \"id\"\n"
    val args =
      s"""{"rules_text": ${mapper.writeValueAsString(rules)},
         | "input_text": "[{\\"id\\": 7}]"}""".stripMargin
    toolCall("transform", args) // first call: parses (or was never seen)
    val after1 = graft.rules.YamlParser.parseCount
    val r2 = toolCall("transform", args)
    val r3 = toolCall("transform", args)
    assert(graft.rules.YamlParser.parseCount == after1, "cached rule re-parsed")
    val text = r3.path("content").get(0).path("text").asText
    assert(mapper.readTree(text) == mapper.readTree("""[{"lru_probe":7}]"""))
    assert(!r2.path("isError").asBoolean(false))
  }
}
