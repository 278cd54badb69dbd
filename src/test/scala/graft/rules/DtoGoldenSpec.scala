package graft.rules

import org.scalatest.funsuite.AnyFunSuite

/** The DTO golden suite (the reference's crates/rulemorph/tests/dto_golden.rs)
  * over the fixture set (see [[Fixtures]]): generated text must equal each
  * expected_* file exactly (both sides trim trailing whitespace,
  * dto_golden.rs:19-32). */
class DtoGoldenSpec extends AnyFunSuite {

  private def check(fixture: String, lang: DtoGenerator.Language, expected: String): Unit =
    for (c <- Fixtures.cases(fixture)) {
      val got = DtoGenerator.generate(YamlParser.parse(c.read("rules.yaml")), lang)
      val want = c.read(expected).replaceAll("\\s+$", "")
      assert(got == want, s"${c.label}\n--- got ---\n$got\n--- want ---\n$want")
    }

  test("dto01 rust") { check("dto01_basic", DtoGenerator.Rust, "expected_rust.rs") }
  test("dto01 typescript") { check("dto01_basic", DtoGenerator.TypeScript, "expected_typescript.ts") }
  test("dto01 python") { check("dto01_basic", DtoGenerator.Python, "expected_python.py") }
  test("dto01 go") { check("dto01_basic", DtoGenerator.Go, "expected_go.go") }
  test("dto01 java") { check("dto01_basic", DtoGenerator.Java, "expected_java.java") }
  test("dto01 kotlin") { check("dto01_basic", DtoGenerator.Kotlin, "expected_kotlin.kt") }
  test("dto01 swift") { check("dto01_basic", DtoGenerator.Swift, "expected_swift.swift") }
  test("dto02 rust") { check("dto02_steps", DtoGenerator.Rust, "expected_rust.rs") }
}
