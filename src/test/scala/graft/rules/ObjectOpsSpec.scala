package graft.rules

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import Model._

/** Object / map / date op semantics (SURVEY §2.7 object rows + dates):
  * merge/deep_merge right-wins, pick/omit re-projection, keys/values/
  * entries/from_entries, group_by/key_by/distinct_by keyed ops with
  * stringified keys, and the chrono-pattern date cascade. */
class ObjectOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def run(yaml: String, input: DataFrame, context: JValue = JNull): DataFrame =
    Engine.transform(YamlParser.parse(yaml), input, context)

  test("merge and deep_merge: right wins, deep recurses (t17/t18 shape)") {
    import spark.implicits._
    val input = Seq(Tuple1(1L)).toDF("id")
    val ctx = JObject(Seq(
      "a" -> JObject(Seq("x" -> JLong(1), "nested" -> JObject(Seq("p" -> JLong(1), "q" -> JLong(2))))),
      "b" -> JObject(Seq("y" -> JLong(9), "nested" -> JObject(Seq("q" -> JLong(20), "r" -> JLong(30)))))))
    val out = run(
      """version: 1
        |mappings:
        |  - target: shallow
        |    expr: { op: merge, args: [ { ref: "context.a" }, { ref: "context.b" } ] }
        |  - target: deep
        |    expr: { op: deep_merge, args: [ { ref: "context.a" }, { ref: "context.b" } ] }
        |""".stripMargin, input, ctx)
    val r = out.collect()(0)
    val shallow = r.getStruct(0)
    // shallow: nested replaced wholesale by b's
    assert(shallow.getAs[Long]("x") == 1L && shallow.getAs[Long]("y") == 9L)
    assert(shallow.getStruct(shallow.fieldIndex("nested")).schema.fieldNames.toSeq == Seq("q", "r"))
    // deep: nested merged field-by-field, right wins on q
    val deepNested = r.getStruct(1).getStruct(r.getStruct(1).fieldIndex("nested"))
    assert(deepNested.getAs[Long]("p") == 1L)
    assert(deepNested.getAs[Long]("q") == 20L)
    assert(deepNested.getAs[Long]("r") == 30L)
  }

  test("merge: a decimal right key some records lack over an integer keeps each record's number") {
    // b.k is a tagged field (absent in the second record); where it is
    // absent the left integer stays, written as the integer it is
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val input = graft.sources.Sources.jsonNode(spark, mapper.readTree(
      """[{"a":{"k":1},"b":{"k":2.5}},{"a":{"k":3},"b":{}}]"""), Nil)
    val rule = YamlParser.parse(
      """version: 2
        |mappings:
        |  - target: m
        |    expr: ["@input.a", merge: ["@input.b"]]
        |""".stripMargin)
    val got = Engine.toJsonRecords(rule, input, JNull, nullAsMissing = true)
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("""{"m":{"k":2.5}}""", """{"m":{"k":3}}"""))
  }

  test("pick and omit re-project static fields (t19/t20 shape)") {
    import spark.implicits._
    val input = Seq(Tuple1(1L)).toDF("id")
    val ctx = JObject(Seq("obj" -> JObject(Seq(
      "a" -> JLong(1), "b" -> JLong(2), "c" -> JLong(3)))))
    val out = run(
      """version: 1
        |mappings:
        |  - target: picked
        |    expr: { op: pick, args: [ { ref: "context.obj" }, "a", "c" ] }
        |  - target: omitted
        |    expr: { op: omit, args: [ { ref: "context.obj" }, "b" ] }
        |""".stripMargin, input, ctx)
    val r = out.collect()(0)
    assert(r.getStruct(0).schema.fieldNames.toSeq == Seq("a", "c"))
    assert(r.getStruct(1).schema.fieldNames.toSeq == Seq("a", "c"))
  }

  test("keys/values/entries/from_entries round-trip (t21/t27 shape)") {
    import spark.implicits._
    val input = Seq(Tuple1(1L)).toDF("id")
    val ctx = JObject(Seq("obj" -> JObject(Seq("a" -> JLong(1), "b" -> JLong(2)))))
    val out = run(
      """version: 1
        |mappings:
        |  - target: ks
        |    expr: { op: keys, args: [ { ref: "context.obj" } ] }
        |  - target: vs
        |    expr: { op: values, args: [ { ref: "context.obj" } ] }
        |  - target: es
        |    expr: { op: entries, args: [ { ref: "context.obj" } ] }
        |  - target: rebuilt
        |    expr: { chain: [ { op: entries, args: [ { ref: "context.obj" } ] }, { op: from_entries, args: [] } ] }
        |""".stripMargin, input, ctx)
    val r = out.collect()(0)
    assert(r.getAs[scala.collection.Seq[String]]("ks") == Seq("a", "b"))
    assert(r.getAs[scala.collection.Seq[Long]]("vs") == Seq(1L, 2L))
    assert(r.getAs[Map[String, Long]]("rebuilt") == Map("a" -> 1L, "b" -> 2L))
  }

  test("group_by/key_by/distinct_by with stringified keys (SURVEY §2.4)") {
    import spark.implicits._
    val input = Seq(Tuple1(Seq(1L, 2L, 3L, 4L, 5L))).toDF("nums")
    val out = run(
      """version: 1
        |mappings:
        |  - target: by_parity
        |    expr: { op: group_by, args: [ { ref: "input.nums" }, { op: "-", args: [ { ref: "item.value" }, { op: "*", args: [ 2, { op: "round", args: [ { op: "-", args: [ { op: "/", args: [ { ref: "item.value" }, 2 ] }, 0.5 ] } ] } ] } ] } ] }
        |  - target: keyed
        |    expr: { op: key_by, args: [ { ref: "input.nums" }, { ref: "item.value" } ] }
        |  - target: dedup
        |    expr: { op: distinct_by, args: [ { ref: "input.nums" }, { op: ">", args: [ { ref: "item.value" }, 2 ] } ] }
        |""".stripMargin, input)
    val r = out.collect()(0)
    val keyed = r.getAs[Map[String, Long]]("keyed")
    assert(keyed == Map("1" -> 1L, "2" -> 2L, "3" -> 3L, "4" -> 4L, "5" -> 5L))
    // distinct_by boolean key: first false (1) and first true (3) survive
    assert(r.getAs[scala.collection.Seq[Long]]("dedup") == Seq(1L, 3L))
  }

  test("date_format and to_unixtime with default cascade and chrono patterns (t13 shape)") {
    import spark.implicits._
    val input = Seq(
      ("2024-01-02 03:04:05", "2024-01-02T03:04:05+09:00", "1970-01-01T00:00:01Z")
    ).toDF("date_simple", "date_tz", "unix_s_src")
    val out = run(
      """version: 1
        |mappings:
        |  - target: formatted
        |    expr: { op: date_format, args: [ { ref: "input.date_simple" }, "%Y/%m/%d %H:%M" ] }
        |  - target: ymd
        |    expr: { op: date_format, args: [ { ref: "input.date_simple" }, "%F" ] }
        |  - target: epoch_s
        |    expr: { op: to_unixtime, args: [ { ref: "input.date_simple" } ] }
        |""".stripMargin, input)
    val r = out.collect()(0)
    assert(r.getString(0) == "2024/01/02 03:04")
    assert(r.getString(1) == "2024-01-02")
    assert(r.getLong(2) == 1704164645L) // 2024-01-02 03:04:05 UTC
  }

  test("to_unixtime timezone args: naive input read in a fixed offset (transform.rs:2653-2734)") {
    import spark.implicits._
    val input = Seq(Tuple1("2024-01-02 03:04:05")).toDF("d")
    val out = run(
      """version: 1
        |mappings:
        |  - target: utc_s
        |    expr: { op: to_unixtime, args: [ { ref: "input.d" } ] }
        |  - target: tokyo_s
        |    expr: { op: to_unixtime, args: [ { ref: "input.d" }, "+09:00" ] }
        |  - target: tokyo_ms
        |    expr: { op: to_unixtime, args: [ { ref: "input.d" }, "ms", "+0900" ] }
        |  - target: nyc_s
        |    expr: { op: to_unixtime, args: [ { ref: "input.d" }, "s", "-05:00" ] }
        |""".stripMargin, input)
    val r = out.collect()(0)
    val utc = 1704164645L
    assert(r.getLong(0) == utc)
    assert(r.getLong(1) == utc - 9 * 3600)       // 03:04 Tokyo is 9h before 03:04 UTC
    assert(r.getLong(2) == (utc - 9 * 3600) * 1000L)
    assert(r.getLong(3) == utc + 5 * 3600)
    // a three-arg call whose middle arg is not a unit is an ExprError
    val err = intercept[ExprCompiler.RmError] {
      run(
        """version: 1
          |mappings:
          |  - target: bad
          |    expr: { op: to_unixtime, args: [ { ref: "input.d" }, "+09:00", "+09:00" ] }
          |""".stripMargin, input).collect()
    }
    assert(err.kind == "ExprError" && err.message.contains("unit must be s or ms"))
  }
}
