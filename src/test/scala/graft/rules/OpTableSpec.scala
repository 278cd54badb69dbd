package graft.rules

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import Model._

/** The op table ([[ExprCompiler.ops]]) against what reads it: every name
  * it declares is known to the validator in both rule forms, compiles and
  * evaluates, and scopes `@item` exactly when its entry binds; the names
  * and the derived sets are the ones the validator listed by hand before
  * the table existed. */
class OpTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)
  private val mapper = new ObjectMapper()

  private val names: Seq[String] = ExprCompiler.ops.flatMap(_.all)

  private def validate(expr: String, version: Int): Seq[Validator.ValidationError] =
    Validator.validate(
      s"""version: $version
         |input:
         |  format: json
         |  json: {}
         |mappings:
         |  - target: out
         |    expr: $expr
         |""".stripMargin)

  private def in(field: String): String = s"""{ ref: "input.$field" }"""
  private val item = """{ ref: "item.value" }"""
  private val above1 = s"""{ op: ">", args: [ $item, 1 ] }"""
  private val sum = """{ op: "+", args: [ { ref: "acc" }, { ref: "item.value" } ] }"""

  /** One record every op below reads its arguments from. */
  private val record =
    """{"s": " Ab,c ", "t": "x", "n": 7, "m": 2, "x": 2.5, "b": true, "num": "42",
      | "arr": [3, 1, 2], "strs": ["b", "a", "b"], "nested": [[1, 2], [3]],
      | "objs": [{"k": "a", "v": 1}, {"k": "b", "v": 2}], "o": {"a": 1, "b": 2},
      | "p": {"q": {"r": 1}}, "flat": {"a.b": 1, "c": 2},
      | "pairs": [["a", "x"], ["b", "y"]], "d": "2024-01-02 03:04:05"}""".stripMargin

  /** v1 args of each name, all present on [[record]]. */
  private val args: Map[String, String] = {
    val two = s"${in("n")}, ${in("m")}"
    Seq("concat" -> s"""${in("s")}, "!"""", "to_string" -> in("n"),
      "replace" -> s"""${in("s")}, "A", "a"""", "split" -> s"""${in("s")}, ",""""
    ).toMap ++
      Seq("trim", "lowercase", "uppercase").map(_ -> in("s")) ++
      Seq("pad_start", "pad_end").map(_ -> s"""${in("t")}, 3, "*"""") ++
      Seq("+", "add", "-", "subtract", "*", "multiply", "/", "divide",
        "==", "!=", "<", "<=", ">", ">=").map(_ -> two) ++
      Map("round" -> in("x"), "to_base" -> s"${in("n")}, 2",
        "coalesce" -> s"""{ ref: "input.absent" }, ${in("n")}""",
        "and" -> s"${in("b")}, ${in("b")}", "or" -> s"${in("b")}, ${in("b")}",
        "not" -> in("b"), "~=" -> s"""${in("s")}, "b"""",
        "string" -> in("n"), "int" -> in("num"), "float" -> in("num"), "bool" -> in("b"),
        "get" -> s"""${in("p")}, "q.r"""", "len" -> in("arr"),
        "map" -> s"""${in("arr")}, { op: "+", args: [ $item, 1 ] }""",
        "flat_map" -> s"${in("nested")}, $item", "flatten" -> in("nested"),
        "slice" -> s"${in("arr")}, 1, 2", "unique" -> in("strs"), "unzip" -> in("nested"),
        "zip" -> s"${in("arr")}, ${in("strs")}",
        "zip_with" -> s"""${in("arr")}, ${in("arr")}, { op: "+", args: [
          { ref: "item.value[0]" }, { ref: "item.value[1]" } ] }""",
        "reduce" -> s"${in("arr")}, $sum", "fold" -> s"${in("arr")}, 0, $sum",
        "sort_by" -> s"${in("arr")}, $item",
        "from_entries" -> in("pairs"), "object_flatten" -> in("p"),
        "object_unflatten" -> in("flat"),
        "date_format" -> s"""${in("d")}, "%Y"""", "to_unixtime" -> in("d")) ++
      Seq("filter", "find", "find_index", "partition").map(_ -> s"${in("arr")}, $above1") ++
      Seq("take", "drop", "chunk", "contains", "index_of").map(_ -> s"${in("arr")}, 2") ++
      Seq("first", "last", "sum", "avg", "min", "max").map(_ -> in("arr")) ++
      Seq("lookup", "lookup_all", "lookup_first").map(_ -> s"""${in("objs")}, "k", "a", "v"""") ++
      Seq("merge", "deep_merge").map(_ -> s"${in("o")}, ${in("p")}") ++
      Seq("pick", "omit").map(_ -> s"""${in("o")}, "a"""") ++
      Seq("keys", "values", "entries").map(_ -> in("o")) ++
      Seq("group_by", "key_by", "distinct_by").map(_ -> s"""${in("objs")}, { ref: "item.value.k" }""")
  }

  test("the table declares the 80 names the validator knew, each once") {
    assert(names.distinct.size == names.size)
    assert(names.toSet == Validator.knownOps)
    assert(Validator.knownOps == Set(
      "concat", "to_string", "trim", "lowercase", "uppercase", "replace",
      "split", "pad_start", "pad_end",
      "add", "+", "subtract", "-", "multiply", "*", "divide", "/", "round", "to_base",
      "and", "or", "not", "==", "!=", "<", "<=", ">", ">=", "~=",
      "string", "int", "float", "bool", "coalesce", "get", "len",
      "map", "filter", "flat_map", "flatten", "take", "drop", "slice", "chunk",
      "first", "last", "find", "find_index", "contains", "index_of", "unique",
      "partition", "unzip", "zip", "zip_with",
      "sum", "avg", "min", "max", "reduce", "fold", "sort_by",
      "lookup", "lookup_all", "lookup_first",
      "merge", "deep_merge", "pick", "omit", "keys", "values", "entries",
      "from_entries", "object_flatten", "object_unflatten",
      "group_by", "key_by", "distinct_by",
      "date_format", "to_unixtime"))
    assert(ExprCompiler.opNames(_.binds) == Set("map", "filter", "flat_map", "find",
      "find_index", "sort_by", "zip_with", "reduce", "fold", "group_by", "key_by",
      "distinct_by", "partition"))
    assert(ExprCompiler.opNames(_.bool) == Set("and", "or", "not", "==", "!=", "<", "<=",
      ">", ">=", "~=", "contains", "bool"))
  }

  test("a name declared twice fails the table") {
    val twice = ExprCompiler.ops :+ ExprCompiler.Op(Seq("first"))(_ => ExprCompiler.CE.missing)
    val e = intercept[IllegalArgumentException](ExprCompiler.distinctNames(twice))
    assert(e.getMessage.contains("first"))
  }

  test("every name and alias is a known op in v1 {op, args} and v2 step form") {
    for (n <- names) {
      val v1 = validate(s"""{ op: "$n", args: [ ${in("arr")} ] }""", 1)
      val v2 = validate(s"""[ "@input.arr", { "$n": [] } ]""", 2)
      assert(!(v1 ++ v2).exists(_.code == "UnknownOp"), s"$n: ${v1 ++ v2}")
    }
    assert(validate("""{ op: "nope", args: [] }""", 1).map(_.code) == Seq("UnknownOp"))
  }

  /** The minimal rule of op `n`: one mapping of it over [[record]]. */
  private def ruleOf(n: String): RuleFile = YamlParser.parse(
    s"""version: 1
       |input:
       |  format: json
       |  json: {}
       |mappings:
       |  - target: out
       |    expr: { op: "$n", args: [ ${args(n)} ] }
       |""".stripMargin)

  test("every name compiles and evaluates to a present value over one record") {
    assert(args.keySet == names.toSet)
    val input: DataFrame =
      graft.sources.Sources.jsonNode(spark, mapper.readTree(s"[$record]"), Nil)
    for (n <- names) {
      val out = Engine.toJsonRecords(ruleOf(n), input, JNull, nullAsMissing = true)
        .collect().map(r => mapper.readTree(r.getString(0)))
      assert(out.length == 1, n)
      assert(out(0).has("out"), s"$n: ${out(0)}")
    }
  }

  test("census: the ops whose plan still holds an expression without generated code") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, NamedLambdaVariable}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    // enough records for the distributed scan, whose plan keeps the mapping
    val many = Seq.fill(graft.sources.Sources.LocalMaxRecords + 1)(record).mkString("[", ",", "]")
    val input = graft.sources.Sources.jsonNode(spark, mapper.readTree(many), Nil)
    assert(!graft.sources.Sources.isLocal(input))
    // a CodegenFallback keeps its whole Project out of whole-stage codegen;
    // a lambda's parts are left out, since they come only with a
    // higher-order function. (CaughtCond wraps a `when` that can raise,
    // which no op's minimal rule has.)
    val census = names.map { n =>
      val plan = Engine.toJsonRecords(ruleOf(n), input, JNull, nullAsMissing = true)
        .queryExecution.executedPlan
      n -> plan.flatMap(_.expressions.flatMap(_.collect {
        case _: LambdaFunction | _: NamedLambdaVariable => ""
        case e: CodegenFallback => e.getClass.getSimpleName
      })).toSet.filter(_.nonEmpty)
    }.filter(_._2.nonEmpty).toMap
    def each(fallbacks: String*)(ops: String*) = ops.map(_ -> fallbacks.toSet)
    assert(census == (
      each("ArrayAggregate")("fold", "reduce") ++
      each("ArrayAggregate", "ArrayTransform")("avg", "sum") ++
      each("ArrayFilter")("entries", "filter", "find", "partition") ++
      each("ArrayFilter", "ArrayTransform")("find_index", "flat_map", "from_entries", "group_by",
        "key_by", "lookup", "lookup_all", "lookup_first", "map") ++
      each("ArraySort", "ArrayTransform")("sort_by") ++
      each("ArrayTransform")("chunk", "contains", "index_of", "max", "min", "unzip") ++
      each("ArrayTransform", "DistinctByKey")("distinct_by") ++
      each("ZipWith")("zip", "zip_with")).toMap)
  }

  test("@item is in scope exactly in the lambda of an op that binds it") {
    for (op <- ExprCompiler.ops; n <- op.all) {
      val codes = validate(s"""{ op: "$n", args: [ ${in("arr")}, $item ] }""", 1).map(_.code)
      if (op.binds) assert(!codes.contains("InvalidRefNamespace"), n)
      else assert(codes.contains("InvalidRefNamespace"), n)
    }
  }
}
