package graft.rules

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The reference's preflight suite (crates/rulemorph/tests/preflight.rs) run
  * verbatim from /root/reference: p01/p04 must validate cleanly, p02/p03/p05
  * must fail with the expected (kind, path). */
class PreflightSpec extends AnyFunSuite {

  private val fixtureRoot = "/root/reference/crates/rulemorph/tests/fixtures"
  private val mapper = new ObjectMapper()

  lazy val spark: SparkSession = graft.Sessions.local(4)

  private def preflight(fixture: String): Unit = {
    val dir = s"$fixtureRoot/$fixture"
    val rule = YamlParser.parse(Files.readString(Paths.get(s"$dir/rules.yaml")))
    val input =
      if (rule.input.format == "csv") graft.sources.Sources.csv(spark, s"$dir/input.csv", rule.input)
      else graft.sources.Sources.json(spark, s"$dir/input.json", rule.input.recordsPath)
    Preflight.validate(rule, input, Model.JNull,
      nullAsMissing = rule.input.format != "csv",
      Engine.fileLoader("/root/reference/crates/rulemorph"))
  }

  private def expectError(fixture: String): Unit = {
    val dir = s"$fixtureRoot/$fixture"
    val expected = mapper.readTree(Files.readString(Paths.get(s"$dir/expected_error.json")))
    val err = intercept[ExprCompiler.RmError] { preflight(fixture) }
    assert(err.kind == expected.get("kind").asText,
      s"$fixture: kind ${err.kind} != ${expected.get("kind").asText} (${err.message})")
    assert(err.path == expected.get("path").asText,
      s"$fixture: path ${err.path} != ${expected.get("path").asText}")
  }

  test("p01_preflight_ok validates cleanly") { preflight("p01_preflight_ok") }

  test("p02_preflight_missing_required fails with MissingRequired") {
    expectError("p02_preflight_missing_required")
  }

  test("p03_preflight_type_cast_failed fails with TypeCastFailed") {
    expectError("p03_preflight_type_cast_failed")
  }

  // p04 in the reference suite: a finalize-bearing rule (tv32) must preflight
  // clean — the finalize pipeline runs, output is discarded (preflight.rs:90)
  test("p04: tv32_steps_finalize preflights clean") { preflight("tv32_steps_finalize") }

  test("p05_preflight_finalize_sort_missing fails with InvalidRef") {
    expectError("p05_preflight_finalize_sort_missing")
  }
}
