package graft.rules

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Locates the rules-conformance fixtures the specs replay. A fixture is
  * one directory: `rules.yaml`, `input.json` or `input.csv`, an optional
  * `context.json`, and the expected output (`expected.json`,
  * `expected.ndjson`, `expected_error.json`, `expected_errors.json` or the
  * DTO `expected_*` files) — the layout in FIXTURES.md.
  *
  * Every name resolves to the in-repo case under
  * `src/test/resources/graft/fixtures/<name>`, whose sub-rule files
  * resolve against the fixture's own directory (the convention `Cli` uses
  * for a rule file). When the environment variable `RULEMORPH_REFERENCE`
  * names a checkout of the reference rulemorph repository, the reference
  * case of the same name is returned as well, so one test replays both;
  * the reference writes its branch paths relative to its crate root.
  */
object Fixtures {

  final case class Case(label: String, dir: Path, subRuleBase: Path) {
    def path(file: String): Path = dir.resolve(file)
    def has(file: String): Boolean = Files.exists(path(file))
    def read(file: String): String = Files.readString(path(file))
    def loader: Engine.RuleLoader = Engine.fileLoader(subRuleBase.toString)
    /** The input file read as `rule` declares it, as `Cli` reads it. */
    def input(spark: SparkSession, rule: Model.RuleFile): DataFrame =
      if (rule.input.format == "csv")
        graft.sources.Sources.csv(spark, path("input.csv").toString, rule.input)
      else graft.sources.Sources.json(spark, path("input.json").toString, rule.input.recordsPath)
  }

  private val inRepoRoot: Path = Paths.get(getClass.getResource("/graft/fixtures").toURI)

  private val referenceCrate: Option[Path] = sys.env.get("RULEMORPH_REFERENCE")
    .map(Paths.get(_).resolve("crates/rulemorph"))
    .filter(Files.isDirectory(_))

  /** The in-repo case of `name` alone, for a case the reference has no
    * fixture of (the `g` family). */
  def inRepo(name: String): Case = cases(name).head

  /** The in-repo case of `name`, then the reference case if configured. */
  def cases(name: String): Seq[Case] = {
    val dir = inRepoRoot.resolve(name)
    require(Files.isDirectory(dir), s"no in-repo fixture named $name")
    Case(s"$name (in-repo)", dir, dir) +: referenceCrate.toSeq.map(crate =>
      Case(s"$name (reference)", crate.resolve(s"tests/fixtures/$name"), crate))
  }
}
