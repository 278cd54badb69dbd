package graft.rules

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import Model._

/** Compatibility oracle: run the golden transform and runtime-error
  * fixtures through the engine and compare JSON output trees against each
  * expected output. Every case runs from the in-repo fixture set (see
  * [[Fixtures]]), and also from the reference's own tree when one is
  * configured. Inputs are read from disk exactly as the CLI reads them, so
  * absent fields and explicit nulls in JSON input keep their distinction.
  */
class FixtureCompatSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  lazy val spark: SparkSession = graft.Sessions.local(4)

  /** Tree comparison: object key order ignored, array order significant,
    * numbers compared by value (100 == 100.0 — the reference integerizes
    * integral doubles on output, Spark keeps the declared type). */
  private def sameJson(a: JsonNode, b: JsonNode): Boolean = {
    if (a.isNumber && b.isNumber) a.asDouble == b.asDouble
    else if (a.isArray && b.isArray) {
      import scala.jdk.CollectionConverters._
      val as = a.elements.asScala.toSeq; val bs = b.elements.asScala.toSeq
      as.size == bs.size && as.zip(bs).forall { case (x, y) => sameJson(x, y) }
    } else if (a.isObject && b.isObject) {
      import scala.jdk.CollectionConverters._
      val ak = a.fieldNames.asScala.toSet; val bk = b.fieldNames.asScala.toSet
      ak == bk && ak.forall(k => sameJson(a.get(k), b.get(k)))
    } else a == b
  }

  private def loadFixture(c: Fixtures.Case): (graft.rules.Model.RuleFile, DataFrame, JValue) = {
    val rule = YamlParser.parse(c.read("rules.yaml"))
    val context: JValue =
      if (c.has("context.json")) graft.Cli.jsonToJValue(mapper.readTree(c.read("context.json")))
      else JNull
    (rule, c.input(spark, rule), context)
  }

  /** The fixture's records through each sink a surface runs, as JSON
    * text: `toJsonRecords`, the CLI's `toJsonRecordsWithWarnings`, the
    * endpoint's `toJsonRecordsTraced` and — for a rule without finalize,
    * which stream mode rejects — the kept lines of `--ndjson`'s
    * `ndjsonWithWarnings`. Each is run when asked for. JSON-sourced
    * fixtures: a SQL null in a plain input field is an absent field
    * (fields that hold explicit nulls ingest tagged, see
    * ExprCompiler.Absentable). */
  private def sinks(c: Fixtures.Case): Seq[(String, () => Seq[String])] = {
    lazy val (rule, input, context) = loadFixture(c)
    def nullAsMissing = rule.input.format != "csv"
    def texts(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.getString(0))
    val finalized = YamlParser.parse(c.read("rules.yaml")).finalizeSpec.nonEmpty
    Seq(
      "toJsonRecords" -> (() =>
        texts(Engine.toJsonRecords(rule, input, context, nullAsMissing, c.loader))),
      "toJsonRecordsWithWarnings" -> (() =>
        texts(Engine.toJsonRecordsWithWarnings(rule, input, context, nullAsMissing, c.loader).output)),
      "toJsonRecordsTraced" -> (() =>
        Engine.toJsonRecordsTraced(rule, input, context, nullAsMissing, c.loader).output)) ++
      (if (finalized) Nil else Seq("ndjsonWithWarnings" -> (() =>
        Engine.ndjsonWithWarnings(rule, input, context, nullAsMissing, c.loader)
          .collect().toSeq.flatMap(r => Option(r.getString(0))))))
  }

  /** Every sink's output is the expected output, and the same text as
    * `toJsonRecords`' (NDJSON lines where the rule has no finalize). */
  private def runFixture(c: Fixtures.Case): Unit = {
    val outputs = sinks(c).map { case (sink, run) => sink -> run() }
    // golden output: expected.json (array / wrapped object) or
    // expected.ndjson (one record per line, the streaming CSV fixtures)
    val expected =
      if (c.has("expected.json")) mapper.readTree(c.read("expected.json"))
      else {
        val arr = mapper.createArrayNode()
        c.read("expected.ndjson").split("\n")
          .filter(_.nonEmpty).foreach(l => arr.add(mapper.readTree(l)))
        arr
      }
    outputs.foreach { case (sink, texts) =>
      val name = s"${c.label} $sink"
      val got = texts.map(mapper.readTree)
      if (expected.isArray) {
        assert(got.length == expected.size,
          s"$name: ${got.length} records, expected ${expected.size}\n got: ${got.mkString("\n")}")
        got.zipWithIndex.foreach { case (g, i) =>
          assert(sameJson(g, expected.get(i)),
            s"$name record $i:\n  got      $g\n  expected ${expected.get(i)}")
        }
      } else {
        // finalize.wrap ⇒ a single wrapped object
        assert(got.length == 1, s"$name: wrap output should be one object, got ${got.length}")
        assert(sameJson(got(0), expected),
          s"$name wrap:\n  got      ${got(0)}\n  expected $expected")
      }
      assert(texts == outputs.head._2, s"$name: text differs from ${outputs.head._1}'s")
    }
  }

  /** Error fixtures: every sink must fail with the expected
    * TransformErrorKind and path — either a compile-time RmError (schema-
    * static errors) or a raised executor error recovered from the marker. */
  private def runErrorFixture(c: Fixtures.Case): Unit = {
    val expected = mapper.readTree(c.read("expected_error.json"))
    sinks(c).foreach { case (sink, run) =>
      val name = s"${c.label} $sink"
      val err =
        try {
          val got = run()
          fail(s"$name: expected an error, got ${got.length} records: ${got.mkString(" ")}")
        } catch {
          case e: ExprCompiler.RmError => e
          case e: org.scalatest.exceptions.TestFailedException => throw e
          case e: Throwable => ExprCompiler.RmError.fromThrowable(e).getOrElse(throw e)
        }
      assert(err.kind == expected.get("kind").asText,
        s"$name: kind ${err.kind} != ${expected.get("kind").asText} (${err.message})")
      if (expected.has("path") && !expected.get("path").isNull)
        assert(err.path == expected.get("path").asText,
          s"$name: path ${err.path} != ${expected.get("path").asText}")
    }
  }

  val fixtures = Seq(
    "t01_csv_basic",
    "t02_csv_no_header",
    "t03_json_out_context",
    "t04_json_root_coalesce_default",
    "t05_expr_transforms",
    "t06_lookup_context",
    "t07_array_index_paths",
    "t08_escaped_keys",
    "t09_when_mapping",
    "t10_when_compare",
    "t11_when_logical_ops",
    "t12_ndjson_csv",
    "t13_expr_extended",
    "t14_expr_chain",
    "t15_record_when",
    "t16_array_ops",
    "t17_json_ops_merge",
    "t18_json_ops_deep_merge",
    "t19_json_ops_pick",
    "t20_json_ops_omit",
    "t21_json_ops_keys_values_entries",
    "t22_json_ops_object_flatten",
    "t23_json_ops_object_unflatten",
    "t24_json_ops_missing",
    "t25_json_ops_get_chain",
    "t26_chain_all_ops",
    "t27_json_ops_from_entries",
    "t28_expr_chain_nested",
    "t29_json_ops_len",
    "tv22_basic",
    "tv23_steps",
    "tv24_conditions",
    "tv25_lookup",
    "tv27_v1_compat",
    "tv28_map_let_binding",
    // tv29_v2_out_sibling_ok is a validation-only fixture (validation.rs:163)
    "tv30_literal_escape",
    "tv31_v2_json_ops_pick_omit_reduce_fold",
    "tv32_steps_finalize",
    "tv33_branch_return",
    "tv34_branch_return_true",
    "tv35_finalize_wrap",
    "tv36_branch_uses_out",
    "tv37_root_refs",
    "tv38_finalize_filter_offset",
    "tv39_finalize_filter_index",
    "tv40_branch_return_filter",
    "tv41_branch_finalize_wrap",
    "tv42_branch_deep_merge")

  val errorFixtures = Seq(
    "r01_float_non_finite",
    "r02_json_ops_invalid_path_pick",
    "r03_json_ops_non_object",
    "r04_json_ops_null_arg",
    "r05_json_ops_unflatten_array_index",
    "r06_json_ops_flatten_brackets",
    "r07_json_ops_flatten_empty_key",
    "r08_json_ops_from_entries_single_pair",
    "r09_asserts_failed")

  /** In-repo cases the reference has no fixture of. */
  val inRepoFixtures = Seq("g01_json_object_absent_keys", "g02_json_object_ops_absent_keys",
    "g03_json_pick_absent_keys", "g04_number_to_string_beyond_long", "g05_context_heterogeneous",
    "g06_json_escaped_keys", "g07_mixed_type_choices", "g08_branch_mixed_types",
    "g09_branch_return_objects", "g10_csv_number_fallback")

  fixtures.foreach { f =>
    test(s"reference golden fixture: $f") { Fixtures.cases(f).foreach(runFixture) }
  }
  errorFixtures.foreach { f =>
    test(s"reference error fixture: $f") { Fixtures.cases(f).foreach(runErrorFixture) }
  }
  inRepoFixtures.foreach { f =>
    test(s"in-repo golden fixture: $f") { runFixture(Fixtures.inRepo(f)) }
  }

  Seq("g06_json_escaped_keys", "g07_mixed_type_choices").foreach { f =>
    test(s"in-repo fixture ${f.take(3)}: each record's JSON text is its expected line, byte for byte") {
      val c = Fixtures.inRepo(f)
      val (rule, input, context) = loadFixture(c)
      val got = Engine.toJsonRecords(rule, input, context, nullAsMissing = true)
        .collect().map(_.getString(0)).toSeq
      assert(got == c.read("expected.ndjson").split("\n").toSeq)
    }
  }
}
