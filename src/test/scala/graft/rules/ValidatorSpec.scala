package graft.rules

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Validation fixtures v01–v11, tv26 and tv43: run invalid rule files
  * through the validator and compare (code, path) pairs against each
  * expected_errors.json; valid rule files must produce no errors. Every
  * case runs from the in-repo fixture set (see [[Fixtures]]). */
class ValidatorSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  val fixtures = Seq(
    "v01_missing_mapping_value",
    "v02_duplicate_target",
    "v03_invalid_ref_namespace",
    "v04_forward_out_reference",
    "v05_unknown_op",
    "v06_invalid_delimiter_length",
    "v07_invalid_lookup_args",
    "v08_invalid_path",
    "v09_invalid_when_type",
    "v10_invalid_record_when_type",
    "v11_invalid_item_ref",
    "tv26_v01_unknown_op",
    "tv26_v02_forward_out_ref",
    "tv26_v03_literal_start_unknown_op",
    "tv26_v04_empty_pipe",
    "tv26_v05_branch_when_v1_non_bool",
    "tv43_finalize_wrap_invalid_expr")

  fixtures.foreach { name =>
    test(s"validation fixture: $name") {
      for (c <- Fixtures.cases(name)) {
        val got = Validator.validate(c.read("rules.yaml")).map(e => (e.code, e.path)).toSet
        import scala.jdk.CollectionConverters._
        val expected = mapper.readTree(c.read("expected_errors.json"))
          .elements.asScala
          .map(n => (n.get("code").asText, n.get("path").asText)).toSet
        assert(got == expected, s"${c.label}:\n  got      $got\n  expected $expected")
      }
    }
  }

  test("valid rule files produce no errors") {
    for (f <- Seq("t01_csv_basic", "t03_json_out_context", "t14_expr_chain",
        "tv25_lookup", "tv29_v2_out_sibling_ok", "tv39_finalize_filter_index",
        "tv41_branch_return_out_update"); c <- Fixtures.cases(f)) {
      val errs = Validator.validate(c.read("rules.yaml"))
      assert(errs.isEmpty, s"${c.label} should validate clean, got $errs")
    }
  }
}
