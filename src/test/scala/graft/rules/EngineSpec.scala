package graft.rules

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import Model._

/** Engine semantics tests, mirroring the behavior the reference's golden
  * fixtures exercise (tv22 pipes, tv24 conditions, tv28 map+let, tv32
  * steps+finalize, t03 context lookup+chain, t16 array ops, missing/default
  * handling). Inputs are built in-memory; expectations follow the reference
  * semantics tables in SURVEY.md §2.
  */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def run(yaml: String, input: DataFrame, context: JValue = JNull): DataFrame =
    Engine.transform(YamlParser.parse(yaml), input, context)

  private def jsonRun(yaml: String, input: DataFrame, context: JValue = JNull): Seq[String] = {
    import spark.implicits._
    Engine.toJsonRecords(YamlParser.parse(yaml), input, context).as[String].collect().toSeq
  }

  test("empty JSON records array transforms to an empty record set") {
    // `[]` is valid input: ingest yields a zero-column empty frame and the
    // compiled plan emits zero records instead of failing (ADVICE round 2)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val input = graft.sources.Sources.jsonNode(spark, mapper.readTree("[]"), Nil)
    assert(input.count() == 0)
    val out = jsonRun(
      """version: 2
        |mappings:
        |  - target: name
        |    expr: ["@input.name", trim]
        |""".stripMargin, input)
    assert(out.isEmpty)
  }

  test("v2 pipe: refs, bare ops, op steps, @out visibility (tv22 shape)") {
    import spark.implicits._
    val input = Seq(("  ada  ", 10.0), (" bob ", 20.0)).toDF("name", "base_price")
    val out = run(
      """version: 2
        |mappings:
        |  - target: name
        |    expr: ["@input.name", trim, uppercase]
        |  - target: greeting
        |    expr: ["Hello, ", concat: ["@out.name"]]
        |  - target: price
        |    expr: ["@input.base_price", multiply: [2]]
        |  - target: currency
        |    value: "USD"
        |""".stripMargin, input)
    val rows = out.orderBy("name").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("ADA", "BOB"))
    assert(rows.map(_.getString(1)).toSeq == Seq("Hello, ADA", "Hello, BOB"))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(20.0, 40.0))
    assert(rows.map(_.getString(3)).toSeq == Seq("USD", "USD"))
  }

  test("v2 conditions: eq/ne/all/any/match via if steps (tv24 shape)") {
    import spark.implicits._
    val input = Seq(
      ("active", "premium", "a@x.io"),
      ("pending", "gold", "nope")).toDF("status", "tier", "contact")
    val out = run(
      """version: 2
        |mappings:
        |  - target: is_active
        |    expr: ["@input.status", if: {cond: {eq: ["$", "active"]}, then: [true], else: [false]}]
        |  - target: is_premium_active
        |    expr: ["@input.tier", if: {cond: {all: [{eq: ["$", "premium"]}, {eq: ["@input.status", "active"]}]}, then: [true], else: [false]}]
        |  - target: is_special
        |    expr: ["@input.tier", if: {cond: {any: [{eq: ["$", "premium"]}, {eq: ["$", "gold"]}]}, then: [true], else: [false]}]
        |  - target: is_email
        |    expr: ["@input.contact", if: {cond: {match: ["$", ".*@.*"]}, then: [true], else: [false]}]
        |""".stripMargin, input)
    val rows = out.orderBy(org.apache.spark.sql.functions.col("is_active").desc).collect()
    assert(rows(0).getBoolean(0) && rows(0).getBoolean(1) && rows(0).getBoolean(2) && rows(0).getBoolean(3))
    assert(!rows(1).getBoolean(0) && !rows(1).getBoolean(1) && rows(1).getBoolean(2) && !rows(1).getBoolean(3))
  }

  test("v2 map step with let binding (tv28 shape)") {
    import spark.implicits._
    val input = Seq(Tuple1(Seq(1L, 2L, 3L))).toDF("items")
    val out = run(
      """version: 2
        |mappings:
        |  - target: results
        |    expr:
        |      - "@input.items"
        |      - map:
        |        - let: { doubled: ["$", multiply: [2]] }
        |        - "@doubled"
        |""".stripMargin, input)
    assert(out.collect()(0).getSeq[Double](0) == Seq(2.0, 4.0, 6.0))
  }

  test("steps + record_when on @out + finalize sort/limit (tv32 shape)") {
    import spark.implicits._
    val input = Seq(("a", 10L), ("b", -2L), ("c", 30L), ("d", 20L)).toDF("name", "score")
    val out = run(
      """version: 2
        |steps:
        |  - mappings:
        |      - target: name
        |        source: "input.name"
        |      - target: score
        |        source: "input.score"
        |  - record_when:
        |      gte: ["@out.score", 0]
        |finalize:
        |  sort: { by: score, order: desc }
        |  limit: 2
        |""".stripMargin, input)
    val rows = out.collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("c", 30L), ("d", 20L)))
  }

  test("v1 chain + context lookup via find/get (t03 shape)") {
    import spark.implicits._
    val input = Seq((1L, 10.5), (2L, 20.0)).toDF("id", "price")
    val ctx = JObject(Seq("tenant_master" -> JArray(Seq(
      JObject(Seq("id" -> JLong(1), "tenant_id" -> JString("t-001"))),
      JObject(Seq("id" -> JLong(2), "tenant_id" -> JString("t-002")))))))
    val out = run(
      """version: 1
        |mappings:
        |  - target: id
        |    source: id
        |  - target: text
        |    expr:
        |      op: concat
        |      args: [ { ref: "out.id" }, "-", { ref: "input.price" } ]
        |  - target: tenant
        |    expr:
        |      chain:
        |        - { ref: "context.tenant_master" }
        |        - { op: "find", args: [ { op: "==", args: [ { ref: "item.value.id" }, { ref: "out.id" } ] } ] }
        |        - { op: "get", args: [ "tenant_id" ] }
        |        - { op: "replace", args: [ "-", "_", "all" ] }
        |""".stripMargin, input, ctx)
    val rows = out.orderBy("id").collect()
    // concat stringifies numbers canonically: 10.5 stays, integral stays int
    assert(rows.map(_.getString(1)).toSeq == Seq("1-10.5", "2-20"))
    assert(rows.map(_.getString(2)).toSeq == Seq("t_001", "t_002"))
  }

  test("array ops: map/filter/flat_map/take/drop/slice/sum/unique (t16 shape)") {
    import spark.implicits._
    val input = Seq(Tuple2(Seq(1L, 2L, 3L, 2L), Seq(Seq(1L, 2L), Seq(3L), Seq.empty[Long], Seq(4L, 5L))))
      .toDF("values", "nested_arrays")
    val out = run(
      """version: 1
        |mappings:
        |  - target: map_plus
        |    expr: { op: map, args: [ { ref: "input.values" }, { op: "+", args: [ { ref: "item.value" }, 1 ] } ] }
        |  - target: map_index
        |    expr: { op: map, args: [ { ref: "input.values" }, { ref: "item.index" } ] }
        |  - target: filter_gt1
        |    expr: { op: filter, args: [ { ref: "input.values" }, { op: ">", args: [ { ref: "item.value" }, 1 ] } ] }
        |  - target: flat
        |    expr: { op: flat_map, args: [ { ref: "input.nested_arrays" }, { ref: "item.value" } ] }
        |  - target: take_2
        |    expr: { op: take, args: [ { ref: "input.values" }, 2 ] }
        |  - target: take_last_2
        |    expr: { op: take, args: [ { ref: "input.values" }, -2 ] }
        |  - target: drop_2
        |    expr: { op: drop, args: [ { ref: "input.values" }, 2 ] }
        |  - target: slice_1_m1
        |    expr: { op: slice, args: [ { ref: "input.values" }, 1, -1 ] }
        |  - target: total
        |    expr: { op: sum, args: [ { ref: "input.values" } ] }
        |  - target: uniq
        |    expr: { op: unique, args: [ { ref: "input.values" } ] }
        |  - target: found
        |    expr: { op: find, args: [ { ref: "input.values" }, { op: ">", args: [ { ref: "item.value" }, 1 ] } ] }
        |  - target: found_idx
        |    expr: { op: find_index, args: [ { ref: "input.values" }, { op: ">", args: [ { ref: "item.value" }, 1 ] } ] }
        |""".stripMargin, input)
    val r = out.collect()(0)
    assert(r.getAs[scala.collection.Seq[Double]]("map_plus") == Seq(2.0, 3.0, 4.0, 3.0))
    assert(r.getAs[scala.collection.Seq[Long]]("map_index") == Seq(0L, 1L, 2L, 3L))
    assert(r.getAs[scala.collection.Seq[Long]]("filter_gt1") == Seq(2L, 3L, 2L))
    assert(r.getAs[scala.collection.Seq[Long]]("flat") == Seq(1L, 2L, 3L, 4L, 5L))
    assert(r.getAs[scala.collection.Seq[Long]]("take_2") == Seq(1L, 2L))
    assert(r.getAs[scala.collection.Seq[Long]]("take_last_2") == Seq(3L, 2L))
    assert(r.getAs[scala.collection.Seq[Long]]("drop_2") == Seq(3L, 2L))
    assert(r.getAs[scala.collection.Seq[Long]]("slice_1_m1") == Seq(2L, 3L))
    assert(r.getAs[Double]("total") == 8.0)
    assert(r.getAs[scala.collection.Seq[Long]]("uniq") == Seq(1L, 2L, 3L))
    assert(r.getAs[Long]("found") == 2L)
    assert(r.getAs[Long]("found_idx") == 1L)
  }

  test("lookup and lookup_first with string-coerced keys (t06 shape)") {
    import spark.implicits._
    val input = Seq((10L, "p1"), (2L, "p2"), (99L, "p9")).toDF("user_id", "tag_id")
    val ctx = JObject(Seq(
      "users" -> JArray(Seq(
        JObject(Seq("id" -> JLong(10), "name" -> JString("Alice"))),
        JObject(Seq("id" -> JLong(10), "name" -> JString("Alicia"))),
        JObject(Seq("id" -> JLong(2), "name" -> JNull)))),
      "tags" -> JArray(Seq(
        JObject(Seq("id" -> JString("p1"), "value" -> JString("hot"))),
        JObject(Seq("id" -> JString("p1"), "value" -> JString("sale"))),
        JObject(Seq("id" -> JString("p2"), "value" -> JString("new")))))))
    val out = run(
      """version: 2
        |mappings:
        |  - target: user_name
        |    expr: ["@context.users", lookup_first: ["id", "@input.user_id", "name"]]
        |  - target: tag_values
        |    expr: ["@context.tags", lookup: ["id", "@input.tag_id", "value"]]
        |""".stripMargin, input, ctx)
    val rows = out.collect()
    // first match wins; number 10 matches key 10 via canonical stringify
    assert(rows(0).getString(0) == "Alice")
    assert(rows(0).getSeq[String](1).toSeq == Seq("hot", "sale"))
    // null payload is a real value (≠ missing)
    assert(rows(1).isNullAt(0))
    assert(rows(1).getSeq[String](1).toSeq == Seq("new"))
    // no match: lookup_first → missing → null; v2 lookup → EMPTY array
    // (v1 lookup would be missing — reference tv25 vs t06 dialect split)
    assert(rows(2).isNullAt(0))
    assert(rows(2).getSeq[String](1).isEmpty)
  }

  test("a @context lookup is a plan-time table: its optimized plan holds no lambda") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, LambdaFunction}
    import spark.implicits._
    // a range, not a local frame: the plan keeps its projection unfolded
    val input = spark.range(3).select(($"id" * 5).as("user_id"),
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.struct(($"id" * 5).as("id"))).as("users"))
    val ctx = JObject(Seq("users" -> JArray(Seq(
      JObject(Seq("id" -> JLong(5), "name" -> JString("Eve"))),
      JObject(Seq("id" -> JLong(5), "name" -> JString("Eva")))))))
    def lambdas(expr: String) = run(
      s"""version: 2
        |mappings:
        |  - target: v
        |    expr: $expr
        |""".stripMargin, input, ctx).queryExecution.optimizedPlan
      .exists(_.expressions.exists(_.exists(e =>
        e.isInstanceOf[ArrayFilter] || e.isInstanceOf[LambdaFunction])))
    assert(!lambdas("""["@context.users", lookup_first: ["id", "@input.user_id", "name"]]"""))
    assert(!lambdas("""["@context.users", lookup: ["id", "@input.user_id", "name"]]"""))
    // a per-record array keeps the element-by-element match
    assert(lambdas("""["@input.users", lookup_first: ["id", "@input.user_id"]]"""))
  }

  test("the benchmark's extended rule maps in whole-stage codegen, in methods the JIT compiles") {
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    // perfbench's `extended` shape: string, regex, pad, math, base, date
    // and unixtime ops over one record each
    val rule = YamlParser.parse(
      """version: 2
        |input: { format: json, json: {} }
        |mappings:
        |  - target: id
        |    source: id
        |  - target: replaced
        |    expr: ["@input.text", replace: ["-", "_", "all"]]
        |  - target: masked
        |    expr: ["@input.regex_text", replace: ["[0-9]", "#", "regex_all"]]
        |  - target: parts
        |    expr: ["@input.csv", split: [","]]
        |  - target: padded
        |    expr: ["@input.pad", pad_start: [5, "0"]]
        |  - target: sum
        |    expr: ["@input.num_a", add: ["@input.num_b"]]
        |  - target: rounded
        |    expr: ["@input.num_a", multiply: [3], round: [2]]
        |  - target: hex
        |    expr: ["@input.base_value", to_base: [16]]
        |  - target: day
        |    expr: ["@input.date_simple", date_format: ["%Y/%m/%d %H:%M"]]
        |  - target: epoch_s
        |    expr: ["@input.unix_s", to_unixtime: ["s"]]
        |  - target: epoch_ms
        |    expr: ["@input.unix_ms", to_unixtime: ["ms"]]
        |""".stripMargin)
    val records = (1 to graft.sources.Sources.LocalMaxRecords + 1).map(i =>
      s"""{"id":$i,"text":"ab-cd-$i","regex_text":"a1b2c$i","csv":"x,y,$i","pad":"$i",""" +
        s""""num_a":$i.25,"num_b":"$i.5","base_value":$i,"date_simple":"2024-01-02 03:04:05",""" +
        """"unix_s":"2024-01-02T03:04:05Z","unix_ms":"2024-01-02T03:04:05.123Z"}""")
    val input = graft.sources.Sources.jsonNode(spark,
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(records.mkString("[", ",", "]")), Nil)
    assert(!graft.sources.Sources.isLocal(input))
    val plan = Engine.toJsonRecords(rule, input, JNull, nullAsMissing = true)
      .queryExecution.executedPlan
    // the projects each stage fuses (an InputAdapter's child is outside it)
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case pe: ProjectExec => pe +: pe.children.flatMap(fused)
      case o => o.children.flatMap(fused)
    }
    val inStages = plan.collect { case w: WholeStageCodegenExec => fused(w.child) }.flatten
    val projects = plan.collect { case p: ProjectExec => p }
    assert(projects.nonEmpty && projects.forall(p => inStages.exists(_ eq p)), plan.treeString)
    // HotSpot compiles no method above 8,000 bytes of bytecode (HugeMethodLimit)
    val stats = codegenStringSeq(plan).map(_._3)
    assert(stats.nonEmpty && stats.forall(_.maxMethodCodeSize <= 8000), stats)
  }

  test("missing vs null: default applies only to missing; JSON sink drops missing") {
    import spark.implicits._
    val input = Seq(
      (1L, Some("x"), Some(5L)),
      (2L, None, None)).toDF("id", "name", "opt")
    // name=None is NULL (present in schema) — default must NOT apply (null is
    // a value); a ref to an absent column IS missing — default applies
    val yaml =
      """version: 2
        |mappings:
        |  - target: id
        |    source: id
        |  - target: name
        |    source: name
        |    default: "anon"
        |  - target: ghost
        |    expr: ["@input.nope"]
        |    default: "fallback"
        |  - target: maybe
        |    expr: ["@input.absent_field"]
        |""".stripMargin
    val out = run(yaml, input)
    val rows = out.orderBy("id").collect()
    assert(rows(0).getString(1) == "x")
    assert(rows(1).isNullAt(1)) // null stays null — not defaulted
    assert(rows(0).getString(2) == "fallback") // missing → default
    // JSON sink: missing field absent, null field explicit
    val js = jsonRun(yaml, input)
    assert(js(0).contains("\"ghost\":\"fallback\""))
    assert(!js(0).contains("maybe")) // missing → absent key
    assert(js(1).contains("\"name\":null")) // null → explicit null
  }

  test("when-gated mapping skips (absent in JSON, null in DF)") {
    import spark.implicits._
    val input = Seq(("a", 10L), ("b", 200L)).toDF("name", "amount")
    val yaml =
      """version: 2
        |mappings:
        |  - target: name
        |    source: name
        |  - target: big_amount
        |    source: amount
        |    when: { gt: ["@input.amount", 100] }
        |""".stripMargin
    val rows = run(yaml, input).orderBy("name").collect()
    assert(rows(0).isNullAt(1))
    assert(rows(1).getLong(1) == 200L)
    val js = jsonRun(yaml, input)
    assert(!js(0).contains("big_amount"))
    assert(js(1).contains("\"big_amount\":200"))
  }

  test("nested targets assemble structs; finalize filter + offset") {
    import spark.implicits._
    val input = Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)).toDF("k", "v")
    val out = run(
      """version: 2
        |mappings:
        |  - target: meta.key
        |    source: k
        |  - target: meta.value
        |    source: v
        |  - target: score
        |    expr: ["@input.v", multiply: [10]]
        |finalize:
        |  filter: { gt: ["@item.score", 10] }
        |  sort: { by: score }
        |  offset: 1
        |  limit: 2
        |""".stripMargin, input)
    val rows = out.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getStruct(0).getString(0)).toSeq == Seq("c", "d"))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(30.0, 40.0))
  }

  test("fold and reduce with @acc (tv31 shape)") {
    import spark.implicits._
    val input = Seq(Tuple1(Seq(1L, 2L, 3L, 4L))).toDF("nums")
    val out = run(
      """version: 1
        |mappings:
        |  - target: folded
        |    expr: { op: fold, args: [ { ref: "input.nums" }, 100, { op: "+", args: [ { ref: "acc" }, { ref: "item.value" } ] } ] }
        |  - target: reduced
        |    expr: { op: reduce, args: [ { ref: "input.nums" }, { op: "+", args: [ { ref: "acc" }, { ref: "item.value" } ] } ] }
        |""".stripMargin, input)
    val r = out.collect()(0)
    // fold keeps its seed's type (integer seed ⇒ integer result, matching
    // the reference's integerize-when-integral output); reduce coerces
    // through f64 like the reference's arithmetic
    assert(r.getAs[Long]("folded") == 110L)
    assert(r.getAs[Double]("reduced") == 10.0)
  }

  test("sort_by stable with key expr and desc (t16 sort shape)") {
    import spark.implicits._
    val input = Seq(Tuple1(Seq(3L, 1L, 2L, 1L))).toDF("values")
    val out = run(
      """version: 1
        |mappings:
        |  - target: asc_sorted
        |    expr: { op: sort_by, args: [ { ref: "input.values" }, { ref: "item.value" } ] }
        |  - target: desc_sorted
        |    expr: { op: sort_by, args: [ { ref: "input.values" }, { ref: "item.value" }, "desc" ] }
        |""".stripMargin, input)
    val r = out.collect()(0)
    assert(r.getAs[scala.collection.Seq[Long]]("asc_sorted") == Seq(1L, 1L, 2L, 3L))
    assert(r.getAs[scala.collection.Seq[Long]]("desc_sorted") == Seq(3L, 2L, 1L, 1L))
  }

  test("record_when filters before mappings (t15 shape)") {
    import spark.implicits._
    val input = Seq(("a", 5L), ("b", 50L)).toDF("name", "qty")
    val out = run(
      """version: 2
        |record_when: { gte: ["@input.qty", 10] }
        |mappings:
        |  - target: name
        |    source: name
        |""".stripMargin, input)
    assert(out.collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("finalize filter: an unread @item.index plans no Window, a read one exactly one") {
    // the index is a partition-less row_number window; Catalyst's
    // ColumnPruning drops it when the filter does not read it (tv38) and
    // keeps the one window when it does (tv39)
    def windows(name: String): Int = {
      val c = Fixtures.inRepo(name)
      val rule = YamlParser.parse(c.read("rules.yaml"))
      val plan = Engine.toJsonRecords(rule, c.input(spark, rule), nullAsMissing = true)
        .queryExecution.optimizedPlan
      plan.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.size
    }
    assert(windows("tv38_finalize_filter_offset") == 0)
    assert(windows("tv39_finalize_filter_index") == 1)
  }
}
