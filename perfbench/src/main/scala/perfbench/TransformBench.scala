package perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.node.ObjectNode

import graft.Cli
import graft.rules.{Engine, Validator, YamlParser}
import graft.sources.Sources

/** `rulemorph transform -r -i -c -o -v` calls through `Cli.run`, one per
  * transform shape in turn, with `Records` freshly seeded records per call,
  * after a warm-up round. The rule texts repeat from call to call, as they
  * do in a serving loop.
  *
  * The traced run replays each call as the sequence of public calls that
  * `Cli.run transform` makes, each timed as its own span. */
object TransformBench {
  /** The reference input size of the rule-engine baseline. */
  val Records = 5000
  private val nullOut = new PrintStream(OutputStream.nullOutputStream())

  def open(r: Run): Part = new Part {
    private val dir = Files.createDirectories(r.work.resolve("transform"))
    private val ctx = TransformGen.context(r.seed)
    private val ctxFile = dir.resolve("context.json")
    TransformGen.mapper.writeValue(ctxFile.toFile, ctx)
    private val shapes = TransformGen.shapes
    private val rules = shapes.map { s =>
      val p = dir.resolve(s"${s.name}.yaml"); Files.writeString(p, s.rule); s.name -> p
    }.toMap
    private val out = dir.resolve("out.json")
    private var ingestBytes = 0L

    /** Input and expected output of call `i`, outside any timing. */
    private def prepare(i: Int, shape: TransformGen.Shape): (Path, Seq[ObjectNode]) = {
      val b = TransformGen.batch(shape, Records, r.seed * 7919L + i, ctx)
      val in = dir.resolve(if (shape.csv) "in.csv" else "in.json")
      TransformGen.writeInput(shape, b, in)
      Files.deleteIfExists(out)
      (in, b.expected)
    }
    private def args(shape: TransformGen.Shape, in: Path) = Seq("transform", "-r",
      rules(shape.name).toString, "-i", in.toString, "-c", ctxFile.toString, "-o", out.toString, "-v")
    private def check(code: Int, expected: Seq[ObjectNode]) =
      code == 0 && TransformGen.mismatches(out, expected) == 0

    // a warm-up round, so the hot paths are compiled before timing starts;
    // negative ids so no timed input repeats
    shapes.zipWithIndex.foreach { case (shape, k) =>
      val (in, expected) = prepare(-1 - k, shape)
      val code = Cli.run(args(shape, in), nullOut, nullOut)
      require(check(code, expected), s"warm-up transform ${shape.name} failed")
    }

    def kinds: Seq[String] = shapes.map(_.name)

    def op(i: Int, k: Int): Op = {
      val shape = shapes(k)
      val (in, expected) = prepare(i, shape)
      ingestBytes += Files.size(in)
      val (code, took) = r.timed(i, shape.name) {
        if (r.traced) replay(r, rules(shape.name), in, ctxFile, out)
        else Cli.run(args(shape, in), nullOut, nullOut)
      }
      Op(shape.name, took, check(code, expected), expected.size)
    }

    override def spanMetrics: Map[String, String] = Map(
      "rules.parse" -> "rules.parse_ms", "rules.validate" -> "rules.validate_ms",
      "rules.compile" -> "rules.compile_ms", "sources.ingest" -> "sources.ingest_ms",
      "spark.execute" -> "spark.execute_ms", "cli.write" -> "cli.write_ms")

    def layers(counters: Map[String, Double], n: Double): Map[String, Double] = Map(
      "rules.compile_jobs" -> counters.getOrElse("jobs_in.rules.compile", 0.0) / n,
      "sources.ingest_bytes" -> ingestBytes / n)
  }

  /** `Cli.run transform -r -i -c -o -v`, one public call per span. */
  private def replay(r: Run, rulePath: Path, in: Path, ctxFile: Path, out: Path): Int = {
    val t = r.tracer
    val (rule, yaml) = t.span("rules.parse") {
      val yaml = Files.readString(rulePath)
      (YamlParser.parse(yaml), yaml)
    }
    val errors = t.span("rules.validate")(Validator.validate(yaml))
    if (errors.nonEmpty) return 2
    val (input, ctx) = t.span("sources.ingest") {
      val ctx = Cli.jsonToJValue(TransformGen.mapper.readTree(Files.readString(ctxFile)))
      val df =
        if (rule.input.format == "csv") Sources.csv(r.spark, in.toString, rule.input)
        else Sources.json(r.spark, in.toString, rule.input.recordsPath)
      (df, ctx)
    }
    val jw = t.span("rules.compile") {
      Engine.toJsonRecordsWithWarnings(rule, input, ctx,
        nullAsMissing = rule.input.format != "csv",
        ruleLoader = Engine.fileLoader(rulePath.getParent.toString))
    }
    val recs = t.span("spark.execute") {
      val recs = jw.output.collect().map(_.getString(0))
      Engine.collectWarnings(jw.warnings)
      recs
    }
    t.span("cli.write") { Files.writeString(out, recs.mkString("[", ",", "]")) }
    0
  }
}
