package graft.rules

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The preflight suite (the reference's crates/rulemorph/tests/preflight.rs)
  * over the fixture set (see [[Fixtures]]): p01/p04 must validate cleanly,
  * p02/p03/p05 must fail with the expected (kind, path). */
class PreflightSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def preflight(c: Fixtures.Case): Unit = {
    val rule = YamlParser.parse(c.read("rules.yaml"))
    Preflight.validate(rule, c.input(spark, rule), Model.JNull,
      nullAsMissing = rule.input.format != "csv", c.loader)
  }

  private def expectClean(fixture: String): Unit = Fixtures.cases(fixture).foreach(preflight)

  private def expectError(fixture: String): Unit = for (c <- Fixtures.cases(fixture)) {
    val expected = mapper.readTree(c.read("expected_error.json"))
    val err = intercept[ExprCompiler.RmError] { preflight(c) }
    assert(err.kind == expected.get("kind").asText,
      s"${c.label}: kind ${err.kind} != ${expected.get("kind").asText} (${err.message})")
    assert(err.path == expected.get("path").asText,
      s"${c.label}: path ${err.path} != ${expected.get("path").asText}")
  }

  test("p01_preflight_ok validates cleanly") { expectClean("p01_preflight_ok") }

  test("p02_preflight_missing_required fails with MissingRequired") {
    expectError("p02_preflight_missing_required")
  }

  test("p03_preflight_type_cast_failed fails with TypeCastFailed") {
    expectError("p03_preflight_type_cast_failed")
  }

  // p04 in the reference suite: a finalize-bearing rule (tv32) must preflight
  // clean — the finalize pipeline runs, output is discarded (preflight.rs:90)
  test("p04: tv32_steps_finalize preflights clean") { expectClean("tv32_steps_finalize") }

  test("p05_preflight_finalize_sort_missing fails with InvalidRef") {
    expectError("p05_preflight_finalize_sort_missing")
  }
}
