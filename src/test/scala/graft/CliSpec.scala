package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.rules.Fixtures

/** CLI contract tests against the reference exit codes (main.rs:152-165):
  * 0 ok, 1 I/O failure, 2 validation errors, 3 transform errors — driven
  * over the rules fixture set (see [[graft.rules.Fixtures]]). */
class CliSpec extends AnyFunSuite {

  /** Each case of fixture `name`, as a function of a file name → path. */
  private def fixture(name: String)(body: (String => String) => Unit): Unit =
    Fixtures.cases(name).foreach(c => body(f => c.path(f).toString))

  private case class R(code: Int, out: String, err: String)

  private def cli(args: String*): R = {
    val out = new ByteArrayOutputStream(); val err = new ByteArrayOutputStream()
    val code = Cli.run(args, new PrintStream(out, true), new PrintStream(err, true))
    R(code, out.toString, err.toString)
  }

  test("validate: clean rule file exits 0") {
    fixture("t01_csv_basic") { f =>
      val r = cli("validate", "-r", f("rules.yaml"))
      assert(r.code == 0, r.err)
    }
  }

  test("ui: ui-only with --no-ui exits 1; invalid rules dir exits 2") {
    val r1 = cli("ui", "--api-mode", "ui-only", "--no-ui")
    assert(r1.code == 1 && r1.err.contains("ui-only mode cannot be used with --no-ui"))
    val r2 = cli("ui", "--api-mode", "nope")
    assert(r2.code == 1 && r2.err.contains("unknown api mode"))
    // a rules dir whose endpoint references a missing rule fails validation
    val dir = java.nio.file.Files.createTempDirectory("ui_bad_rules")
    java.nio.file.Files.writeString(dir.resolve("endpoint.yaml"),
      """type: endpoint
        |endpoints:
        |  - method: GET
        |    path: /x
        |    steps:
        |      - rule: ./missing.yaml
        |    reply:
        |      status: [lit:200]
        |""".stripMargin)
    val r3 = cli("ui", "--rules-dir", dir.toString, "--data-dir",
      java.nio.file.Files.createTempDirectory("ui_data").toString)
    assert(r3.code == 2, s"${r3.code} ${r3.err}")
  }

  test("validate: invalid rule exits 2 with E line on stderr") {
    fixture("v02_duplicate_target") { f =>
      val r = cli("validate", "-r", f("rules.yaml"))
      assert(r.code == 2)
      assert(r.err.startsWith("E "), r.err)
    }
  }

  test("validate: missing file exits 1") {
    val r = cli("validate", "-r", "/nonexistent/rules.yaml")
    assert(r.code == 1)
    assert(r.err.contains("failed to read rules"), r.err)
  }

  test("transform: t01 csv fixture round-trips to the golden output") {
    fixture("t01_csv_basic") { f =>
      val r = cli("transform", "-r", f("rules.yaml"), "-i", f("input.csv"))
      assert(r.code == 0, r.err)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val got = mapper.readTree(r.out)
      val want = mapper.readTree(Files.readString(Paths.get(f("expected.json"))))
      assert(got == want, s"got ${r.out}")
    }
  }

  test("transform: --ndjson emits one record per line (t12 golden)") {
    fixture("t12_ndjson_csv") { f =>
      val r = cli("transform", "-r", f("rules.yaml"), "-i", f("input.csv"), "--ndjson")
      assert(r.code == 0, r.err)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val got = r.out.trim.split("\n").map(mapper.readTree)
      val want = Files.readString(Paths.get(f("expected.ndjson")))
        .trim.split("\n").map(mapper.readTree)
      assert(got.toSeq == want.toSeq, r.out)
    }
  }

  test("transform: runtime error exits 3 with kind on stderr") {
    fixture("r09_asserts_failed") { f =>
      val r = cli("transform", "-r", f("rules.yaml"), "-i", f("input.json"))
      assert(r.code == 3, s"code=${r.code} out=${r.out}")
      assert(r.err.contains("AssertionFailed"), r.err)
    }
  }

  test("transform: -e json emits a structured error array") {
    fixture("r09_asserts_failed") { f =>
      val r = cli("transform", "-r", f("rules.yaml"), "-i", f("input.json"), "-e", "json")
      assert(r.code == 3)
      assert(r.err.contains("\"type\":\"transform\""), r.err)
      assert(r.err.contains("\"kind\":\"AssertionFailed\""), r.err)
    }
  }

  test("preflight: ok fixture exits 0, error fixture exits 3") {
    fixture("p01_preflight_ok") { f =>
      val ok = cli("preflight", "-r", f("rules.yaml"), "-i", f("input.json"))
      assert(ok.code == 0, ok.err)
    }
    fixture("p02_preflight_missing_required") { f =>
      val bad = cli("preflight", "-r", f("rules.yaml"), "-i", f("input.json"))
      assert(bad.code == 3, s"code=${bad.code}")
      assert(bad.err.contains("MissingRequired"), bad.err)
    }
  }

  test("preflight: missing input file exits 1") {
    // the rules file exists, so the exit code is the missing input's
    fixture("p01_preflight_ok") { f =>
      val r = cli("preflight", "-r", f("rules.yaml"), "-i", "/nonexistent/input.json")
      assert(r.code == 1)
      assert(r.err.contains("failed to read input"), r.err)
    }
  }

  test("generate: rust dto to stdout matches the golden file") {
    fixture("dto01_basic") { f =>
      val r = cli("generate", "-r", f("rules.yaml"), "-l", "rust")
      assert(r.code == 0, r.err)
      val want = Files.readString(Paths.get(f("expected_rust.rs"))).replaceAll("\\s+$", "")
      assert(r.out.trim == want)
    }
  }

  test("generate: ts alias works; unknown language exits 1") {
    fixture("dto01_basic") { f =>
      assert(cli("generate", "-r", f("rules.yaml"), "-l", "ts").code == 0)
      assert(cli("generate", "-r", f("rules.yaml"), "-l", "cobol").code == 1)
    }
  }

  test("generate: -o writes the file") {
    fixture("dto02_steps") { f =>
      val tmp = Files.createTempDirectory("cli").resolve("dto.rs")
      val r = cli("generate", "-r", f("rules.yaml"), "-l", "rust", "-o", tmp.toString)
      assert(r.code == 0, r.err)
      val want = Files.readString(Paths.get(f("expected_rust.rs"))).replaceAll("\\s+$", "")
      assert(Files.readString(tmp).trim == want)
    }
  }

  test("transform/preflight: when-eval error emits W lines on stderr, exit 0") {
    // emit_transform_warnings parity (reference main.rs:652-678): text
    // form `W <Kind> path=… msg="…"`, json form an array of warning
    // objects — and warnings do NOT fail the run
    val dir = Files.createTempDirectory("cli_warn")
    val rules = dir.resolve("rules.yaml")
    Files.writeString(rules,
      """version: 1
        |input: { format: json }
        |mappings:
        |  - target: "flag"
        |    value: "big"
        |    when:
        |      op: ">"
        |      args: [ { op: "int", args: [ { ref: "input.n" } ] }, 5 ]
        |""".stripMargin)
    val input = dir.resolve("input.json")
    Files.writeString(input, """[{"n": "10"}, {"n": "abc"}]""")
    val r = cli("transform", "-r", rules.toString, "-i", input.toString)
    assert(r.code == 0, r.err)
    assert(r.out.contains("""[{"flag":"big"},{}]"""), r.out)
    assert(r.err.contains(
      """W TypeCastFailed path=mappings[0].when.args[0] msg="failed to cast to int""""),
      r.err)
    val rj = cli("transform", "-r", rules.toString, "-i", input.toString,
      "-e", "json")
    assert(rj.code == 0 && rj.err.contains(""""type":"warning"""") &&
      rj.err.contains(""""kind":"TypeCastFailed""""), rj.err)
    val rp = cli("preflight", "-r", rules.toString, "-i", input.toString)
    assert(rp.code == 0 && rp.err.contains("W TypeCastFailed"), rp.err)
  }

  test("transform --ndjson: -o streams lines into the output file") {
    // the file path exercises the per-line writer (lines written as
    // produced, not buffered) introduced with the streaming rewrite
    val dir = Files.createTempDirectory("cli_ndjson_out")
    val rules = dir.resolve("rules.yaml")
    Files.writeString(rules,
      """version: 1
        |input: { format: json }
        |mappings:
        |  - target: "n"
        |    source: "n"
        |""".stripMargin)
    val input = dir.resolve("input.json")
    Files.writeString(input, """[{"n": 1}, {"n": 2}, {"n": 3}]""")
    val outFile = dir.resolve("out.ndjson")
    val r = cli("transform", "-r", rules.toString, "-i", input.toString,
      "--ndjson", "-o", outFile.toString)
    assert(r.code == 0, r.err)
    val lines = Files.readString(outFile).trim.split("\n").toSeq
    assert(lines == Seq("""{"n":1}""", """{"n":2}""", """{"n":3}"""), lines)
  }

  test("transform --ndjson: finalize is rejected like the reference stream mode") {
    // transform_stream refuses finalize (transform.rs:168-173); the CLI
    // surfaces it as a transform error, exit 3
    val dir = Files.createTempDirectory("cli_ndjson_fin")
    val rules = dir.resolve("rules.yaml")
    Files.writeString(rules,
      """version: 1
        |input: { format: json }
        |mappings:
        |  - target: "n"
        |    source: "n"
        |finalize:
        |  limit: 1
        |""".stripMargin)
    val input = dir.resolve("input.json")
    Files.writeString(input, """[{"n": 1}, {"n": 2}]""")
    val r = cli("transform", "-r", rules.toString, "-i", input.toString, "--ndjson")
    assert(r.code == 3, s"${r.code} ${r.err}")
    assert(r.err.contains(
      """E InvalidInput msg="finalize is not supported in stream mode""""), r.err)
  }

  test("transform --ndjson: warnings are emitted per item, dropped items keep theirs") {
    // run_transform_ndjson (main.rs:350-377): each item's warnings are
    // emitted before its output line — in json error format that is one
    // array PER warned item (two records warn ⇒ two arrays), and an item
    // dropped by record_when still reports its warning without a line
    val dir = Files.createTempDirectory("cli_ndjson_warn")
    val rules = dir.resolve("rules.yaml")
    Files.writeString(rules,
      """version: 1
        |input: { format: json }
        |mappings:
        |  - target: "flag"
        |    value: "big"
        |    when:
        |      op: ">"
        |      args: [ { op: "int", args: [ { ref: "input.n" } ] }, 5 ]
        |""".stripMargin)
    val input = dir.resolve("input.json")
    Files.writeString(input, """[{"n": "abc"}, {"n": "10"}, {"n": "xyz"}]""")
    val rj = cli("transform", "-r", rules.toString, "-i", input.toString,
      "--ndjson", "-e", "json")
    assert(rj.code == 0, rj.err)
    assert(rj.out.trim == "{}\n{\"flag\":\"big\"}\n{}", rj.out)
    val arrays = rj.err.linesIterator.filter(_.nonEmpty).toSeq
    assert(arrays.size == 2, s"expected one warning array per warned item: ${rj.err}")
    assert(arrays.forall(a => a.startsWith("""[{"type":"warning"""") &&
      a.contains(""""kind":"TypeCastFailed"""")), rj.err)

    // record_when eval error ⇒ item dropped, warning still emitted
    val rules2 = dir.resolve("rules2.yaml")
    Files.writeString(rules2,
      """version: 1
        |input: { format: json }
        |record_when:
        |  op: ">"
        |  args: [ { op: "int", args: [ { ref: "input.n" } ] }, 5 ]
        |mappings:
        |  - target: "n"
        |    source: "n"
        |""".stripMargin)
    val r2 = cli("transform", "-r", rules2.toString, "-i", input.toString, "--ndjson")
    assert(r2.code == 0, r2.err)
    assert(r2.out.trim == "{\"n\":\"10\"}", r2.out)
    val wLines = r2.err.linesIterator.filter(_.startsWith("W ")).toSeq
    assert(wLines.size == 2 && wLines.forall(_.contains("TypeCastFailed")), r2.err)
  }
}
