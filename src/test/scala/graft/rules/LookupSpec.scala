package graft.rules

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import Model._

/** `lookup`, `lookup_first` and `lookup_all` over a constant array (the
  * `@context` literal, compiled to a plan-time table) give what the same
  * rule gives over the same array fed as an input field (a per-record
  * array, matched element by element); and any `@context` read gives what
  * the same read of an input field gives, since constants and records are
  * typed by the one JSON inference. */
class LookupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private val mapper = new ObjectMapper()

  /** Match values every case is run with: each key type, a number matching
    * a string key and back, no match, an explicit null and no `k` at all. */
  private val matchValues = Seq("1", "\"1\"", "2", "\"2\"", "2.5", "3", "\"3.0\"", "4", "true",
    "\"true\"", "false", "\"t1\"", "\"t2\"", "99", "\"zz\"", "null")

  /** The JSON output of `rule` (its from-array written as `FROM`) over one
    * record per match value, with the array either in the context or in
    * every record. */
  private def outputs(rule: String, array: String): (Seq[String], Seq[String]) = {
    import spark.implicits._
    def records(withArray: Boolean) = {
      val xs = if (withArray) s""", "xs": $array""" else ""
      ((matchValues.map(m => s"""{"id": 0, "k": $m$xs}""") :+ s"""{"id": 0$xs}""")
        .zipWithIndex.map { case (r, i) => r.replace("\"id\": 0", s""""id": $i""") })
        .mkString("[", ",", "]")
    }
    def run(r: String, recs: String, ctx: JValue) = {
      val input = graft.sources.Sources.jsonNode(spark, mapper.readTree(recs), Nil)
      Engine.toJsonRecords(YamlParser.parse(r), input, ctx, nullAsMissing = true)
        .as[String].collect().toSeq
    }
    val ctx = graft.Cli.jsonToJValue(mapper.readTree(s"""{"xs": $array}"""))
    (run(rule.replace("FROM", "@context.xs").replace("V1REF", "context.xs"), records(false), ctx),
      run(rule.replace("FROM", "@input.xs").replace("V1REF", "input.xs"), records(true), JNull))
  }

  private val v2Rule =
    """version: 2
      |mappings:
      |  - target: id
      |    source: id
      |  - target: first
      |    expr: ["FROM", lookup_first: ["id", "@input.k", "name"]]
      |  - target: all
      |    expr: ["FROM", lookup_all: ["id", "@input.k", "name"]]
      |  - target: v2_lookup
      |    expr: ["FROM", lookup: ["id", "@input.k", "name"]]
      |  - target: first_whole
      |    expr: ["FROM", lookup_first: ["id", "@input.k"]]
      |  - target: all_whole
      |    expr: ["FROM", lookup_all: ["id", "@input.k"]]
      |  - target: nested
      |    expr: ["FROM", lookup_all: ["meta.code", "@input.k", "meta.label"]]
      |""".stripMargin

  private val v1Rule =
    """version: 1
      |mappings:
      |  - target: id
      |    source: id
      |  - target: lookup
      |    expr: { op: lookup, args: [ { ref: "V1REF" }, "id", { ref: "input.k" }, "name" ] }
      |  - target: first
      |    expr: { op: lookup_first, args: [ { ref: "V1REF" }, "id", { ref: "input.k" }, "name" ] }
      |  - target: whole
      |    expr: { op: lookup, args: [ { ref: "V1REF" }, "id", { ref: "input.k" } ] }
      |""".stripMargin

  private val meta = """"meta": {"code": "c", "label": "L"}"""

  private val arrays = Map(
    // repeated keys (first wins), a null key, a null name, a null element
    // and a null meta (the nested key and output paths do not resolve)
    "long keys" -> s"""[{"id": 1, "name": "a", $meta}, {"id": 2, "name": null, $meta},
      {"id": 1, "name": "b", "meta": {"code": "1", "label": null}},
      {"id": null, "name": "n", "meta": null}, null, {"id": 3, "name": "c", $meta}]""",
    "string keys" -> s"""[{"id": "t1", "name": "x", $meta}, {"id": "t1", "name": "y", $meta},
      {"id": "t2", "name": "z", "meta": {"code": "t2", "label": "T2"}}, {"id": "1", "name": "one", $meta}]""",
    "bool keys" -> s"""[{"id": true, "name": "yes", $meta}, {"id": false, "name": "no", $meta},
      {"id": true, "name": "again", "meta": {"code": "true", "label": "M"}}]""",
    // 1.0 is spelled "1", 2.5 stays "2.5"; longs and doubles share the type
    "integral-double keys" -> s"""[{"id": 1.0, "name": "one", $meta}, {"id": 2.5, "name": "half", $meta},
      {"id": 3, "name": "three", $meta}, {"id": 1e30, "name": "big", $meta}]""",
    // elements of differing shapes: keys some element lacks, a key of
    // mixed types, and outputs of mixed types
    "heterogeneous objects" -> s"""[{"id": 1, "name": "a", $meta}, {"id": 2}, {"name": "c"},
      {"id": "1", "name": "b", "meta": {"code": 1}}, {"id": true, "meta": {"label": "L2"}},
      {"id": "t1", "name": ["x", 1], "extra": {}}]""",
    // values of mixed kinds: objects beside scalars, arrays and a null
    "mixed elements" -> s"""[{"id": 1, "name": "a", $meta}, 1, "t1", [1, 2], null, true,
      {"id": "t1", "name": ["x", 1]}, {"id": 2.5, "name": {"n": null}, "meta": "m"}]""")

  for ((name, array) <- arrays; (dialect, rule) <- Seq("v2" -> v2Rule, "v1" -> v1Rule))
    test(s"$dialect lookups over $name: the context table equals the per-record array") {
      val (fromContext, fromInput) = outputs(rule, array)
      assert(fromContext == fromInput)
      // the cases reach a match and a miss
      assert(fromContext.exists(_.contains("\"first\"")))
      assert(fromContext.exists(r => !r.contains("\"first\"")))
    }

  test("a lookup over a literal array in the rule matches as over the context") {
    val rule = (from: String) =>
      s"""version: 1
        |mappings:
        |  - target: name
        |    expr: { op: lookup_first, args: [ $from, "id", { ref: "input.k" }, "name" ] }
        |""".stripMargin
    val input = graft.sources.Sources.jsonNode(spark,
      mapper.readTree("""[{"k": 2}, {"k": "1"}, {"k": 5}]"""), Nil)
    val users = """[{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]"""
    import spark.implicits._
    def run(r: String, ctx: JValue) =
      Engine.toJsonRecords(YamlParser.parse(r), input, ctx, nullAsMissing = true)
        .as[String].collect().toSeq
    val literal = run(rule(s"{ lit: $users }"), JNull)
    assert(literal == Seq("""{"name":"b"}""", """{"name":"a"}""", "{}"))
    assert(literal == run(rule("""{ ref: "context.users" }"""),
      graft.Cli.jsonToJValue(mapper.readTree(s"""{"users": $users}"""))))
  }

  test("a @context value reads as the same value fed as an @input field") {
    // differing shapes, mixed values and an integer beyond the long range,
    // read whole, by path and as a rule literal
    val doc = """{"users": [{"id": 1, "name": "a"}, {"id": 2}, {"name": "c", "tags": [1, "x"]}],
      "vals": [1, "a", true, null, {"x": [2.5, 3]}], "big": 18446744073709551617,
      "nested": {"big": [18446744073709551617, 1], "none": null, "empty": []}}"""
    val rule =
      """version: 2
        |mappings:
        |  - target: users
        |    expr: ["SRC.users"]
        |  - target: name_1
        |    expr: ["SRC.users.1.name"]
        |  - target: tags
        |    expr: ["SRC.users.2.tags"]
        |  - target: vals
        |    expr: ["SRC.vals"]
        |  - target: n
        |    expr: ["SRC.vals", len]
        |  - target: big
        |    expr: ["SRC.big"]
        |  - target: nested
        |    expr: ["SRC.nested"]
        |  - target: literal_big
        |    value: 18446744073709551617
        |""".stripMargin
    import spark.implicits._
    def run(src: String, records: String, ctx: JValue) =
      Engine.toJsonRecords(YamlParser.parse(rule.replace("SRC", src)),
        graft.sources.Sources.jsonNode(spark, mapper.readTree(records), Nil), ctx,
        nullAsMissing = true).as[String].collect().toSeq
    val fromContext = run("@context", """[{"id": 0}]""", graft.Cli.jsonToJValue(mapper.readTree(doc)))
    val fromInput = run("@input", s"[$doc]", JNull)
    assert(fromContext == fromInput)
    val out = mapper.readTree(fromContext.head)
    assert(out.get("big").isDouble && out.get("big").asDouble == 1.8446744073709552e19)
    assert(out.get("literal_big") == out.get("big"))
    assert(!out.has("name_1"))
  }
}
