package graft.rules

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import Model._

/** The warnings side channel (transform_with_warnings, transform.rs:
  * 194-249): an eval error in a `when` skips the mapping, an eval error in
  * `record_when` drops the record — in both cases the run continues and a
  * (kind, path, message) warning surfaces, in record order. Non-erroring
  * records and conditions must produce no warnings, and dropped records
  * keep the warnings they accumulated before the drop.
  */
class WarningsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def runWithWarnings(yaml: String, input: org.apache.spark.sql.DataFrame)
      : (Seq[String], Seq[Engine.Warning]) = {
    val jw = Engine.toJsonRecordsWithWarnings(YamlParser.parse(yaml), input)
    (jw.output.collect().map(_.getString(0)).toSeq,
      Engine.collectWarnings(jw.warnings))
  }

  private val whenRule =
    """version: 1
      |input: { format: json }
      |mappings:
      |  - target: "id"
      |    source: "id"
      |  - target: "flag"
      |    value: "big"
      |    when:
      |      op: ">"
      |      args: [ { op: "int", args: [ { ref: "input.n" } ] }, 5 ]
      |""".stripMargin

  test("when eval error skips the mapping and warns; clean records are untouched") {
    import spark.implicits._
    val input = Seq((1L, "10"), (2L, "abc"), (3L, "3")).toDF("id", "n")
    val (out, warns) = runWithWarnings(whenRule, input)
    // record 1: when true → flag present; record 2: when ERRORS → flag
    // skipped (absent, not null); record 3: when false → flag skipped
    assert(out == Seq(
      """{"id":1,"flag":"big"}""",
      """{"id":2}""",
      """{"id":3}"""))
    assert(warns == Seq(
      Engine.Warning("TypeCastFailed", "mappings[1].when.args[0]", "failed to cast to int")))
  }

  test("record_when eval error drops the record and warns; run continues") {
    import spark.implicits._
    val input = Seq(("1", "a"), ("x", "b"), ("3", "c")).toDF("id", "tag")
    val (out, warns) = runWithWarnings(
      """version: 1
        |input: { format: json }
        |record_when:
        |  op: ">"
        |  args: [ { op: "int", args: [ { ref: "input.id" } ] }, 0 ]
        |mappings:
        |  - target: "tag"
        |    source: "tag"
        |""".stripMargin, input)
    assert(out == Seq("""{"tag":"a"}""", """{"tag":"c"}"""))
    assert(warns == Seq(
      Engine.Warning("TypeCastFailed", "record_when.args[0]", "failed to cast to int")))
  }

  test("a dropped record keeps warnings from mappings that ran before the drop") {
    import spark.implicits._
    // steps: mapping (erroring when) THEN record_when false — the record
    // is dropped from the output but its earlier when-warning survives
    // (reference: record_warnings are extended even when the record
    // returns None)
    val input = Seq(("only", "abc")).toDF("id", "n")
    val (out, warns) = runWithWarnings(
      """version: 1
        |input: { format: json }
        |mappings:
        |  - target: "flag"
        |    value: "big"
        |    when:
        |      op: ">"
        |      args: [ { op: "int", args: [ { ref: "input.n" } ] }, 5 ]
        |steps:
        |  - record_when:
        |      op: "=="
        |      args: [ { ref: "input.id" }, "other" ]
        |""".stripMargin, input)
    assert(out.isEmpty)
    assert(warns == Seq(
      Engine.Warning("TypeCastFailed", "mappings[0].when.args[0]", "failed to cast to int")))
  }

  test("mappings of a dropped record produce no warnings") {
    import spark.implicits._
    // record_when drops the record BEFORE mappings run — the erroring
    // mapping-when must not warn for it (reference: apply_mappings is
    // never reached for a record_when-dropped record)
    val input = Seq(("no", "abc"), ("yes", "7")).toDF("keep", "n")
    val (out, warns) = runWithWarnings(
      """version: 1
        |input: { format: json }
        |record_when:
        |  op: "=="
        |  args: [ { ref: "input.keep" }, "yes" ]
        |mappings:
        |  - target: "flag"
        |    value: "big"
        |    when:
        |      op: ">"
        |      args: [ { op: "int", args: [ { ref: "input.n" } ] }, 5 ]
        |""".stripMargin, input)
    assert(out == Seq("""{"flag":"big"}"""))
    assert(warns.isEmpty)
  }

  test("warnings arrive in record order, record_when before mapping whens") {
    import spark.implicits._
    val input = Seq(("x", "abc"), ("2", "def")).toDF("id", "n")
    val (out, warns) = runWithWarnings(
      """version: 1
        |input: { format: json }
        |record_when:
        |  op: ">"
        |  args: [ { op: "int", args: [ { ref: "input.id" } ] }, 0 ]
        |mappings:
        |  - target: "flag"
        |    value: "big"
        |    when:
        |      op: ">"
        |      args: [ { op: "int", args: [ { ref: "input.n" } ] }, 5 ]
        |""".stripMargin, input)
    assert(out == Seq("""{}"""))
    assert(warns == Seq(
      Engine.Warning("TypeCastFailed", "record_when.args[0]", "failed to cast to int"),
      Engine.Warning("TypeCastFailed", "mappings[0].when.args[0]", "failed to cast to int")))
  }

  test("preflight returns the run's warnings") {
    import spark.implicits._
    val input = Seq((1L, "10"), (2L, "abc")).toDF("id", "n")
    val ws = Preflight.validate(YamlParser.parse(whenRule), input)
    assert(ws == Seq(
      Engine.Warning("TypeCastFailed", "mappings[1].when.args[0]", "failed to cast to int")))
  }

  test("pure conditions take the plain plan: no CaughtCond, no warnings machinery") {
    import spark.implicits._
    val input = Seq((1L, 10L), (2L, 3L)).toDF("id", "n")
    val (out, warns) = runWithWarnings(
      """version: 1
        |input: { format: json }
        |record_when:
        |  op: ">"
        |  args: [ { ref: "input.n" }, 5 ]
        |mappings:
        |  - target: "id"
        |    source: "id"
        |""".stripMargin, input)
    assert(out == Seq("""{"id":1}"""))
    assert(warns.isEmpty)
  }
}
