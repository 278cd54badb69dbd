package graft

import java.io.PrintStream
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.rules._
import graft.rules.Model._

/** Command-line surface with the reference CLI's contract
  * (crates/rulemorph_cli/src/main.rs): subcommands
  * `validate | preflight | transform | generate`, the same flags, the same
  * stderr error grammar (`E <Kind> path=... msg="..."` / JSON arrays with
  * `-e json`), and the same exit codes —
  * 0 ok, 1 I/O or parse failure, 2 validation errors, 3 transform errors
  * (main.rs:152-165).
  *
  * `transform` and `preflight` are [[Engine.FileRun]], the run MCP's
  * transform tool makes too, under [[ExprCompiler.RmError.recover]]: the
  * CLI parses flags and writes the reference's replies, as the reference
  * CLI wraps its library crate.
  */
object Cli {

  def main(args: Array[String]): Unit =
    sys.exit(run(args.toIndexedSeq, Console.out, Console.err))

  private val mapper = new ObjectMapper()

  /** Testable entry: returns the exit code instead of exiting. */
  def run(args: Seq[String], out: PrintStream, err: PrintStream): Int = {
    args.headOption match {
      case Some("validate") => runValidate(parseFlags(args.tail), err)
      case Some("preflight") => runPreflight(parseFlags(args.tail), err)
      case Some("transform") => runTransform(parseFlags(args.tail), out, err)
      case Some("generate") => runGenerate(parseFlags(args.tail), out, err)
      case Some("serve") => runServe(parseFlags(args.tail), out, err)
      case Some("ui") => runUi(parseFlags(args.tail), out, err)
      case Some("validate-rules-dir") => runValidateRulesDir(parseFlags(args.tail), err)
      case _ =>
        err.println("usage: rulemorph <validate|preflight|transform|generate|serve|ui|validate-rules-dir> [flags]")
        1
    }
  }

  /** `ui [--port N] [--data-dir D] [--ui-dir U] [--rules-dir R]
    * [--api-mode rules|ui-only] [--no-ui] [--no-trace-detail]` — the
    * reference's UI server (main.rs run_ui): the /api rules surface + the
    * /internal trace/graph API + static UI assets. `--no-trace-detail`
    * turns off rich per-request trace capture (records/nodes recorded
    * in each rule's own plan) and keeps the flat trace. Exit 1 on
    * config/server errors, 2 when the rules dir fails validation. */
  private def runUi(f: Flags, out: PrintStream, err: PrintStream): Int = {
    val apiMode = f.opts.getOrElse("--api-mode", "rules")
    val uiEnabled = !f.bools.contains("--no-ui")
    if (!uiEnabled && apiMode == "ui-only") {
      err.println("ui-only mode cannot be used with --no-ui"); return 1
    }
    if (apiMode != "rules" && apiMode != "ui-only") {
      err.println(s"unknown api mode: $apiMode"); return 1
    }
    val dataDir = Paths.get(f.opts.getOrElse("--data-dir", ".rulemorph"))
    val rulesDir = f.opts.get("--rules-dir").map(Paths.get(_))
      .getOrElse(dataDir.resolve("api_rules"))
    if (apiMode == "rules" && Files.isDirectory(rulesDir)) {
      val errors = graft.endpoint.RulesDirValidator.validate(rulesDir)
      if (errors.nonEmpty) { errors.foreach(e => err.println(e.render)); return 2 }
    }
    val config = graft.endpoint.UiServer.Config(
      port = f.opts.get("--port").flatMap(_.toIntOption).getOrElse(8080),
      dataDir = dataDir,
      uiDir = f.opts.get("--ui-dir").map(Paths.get(_)).filter(Files.isDirectory(_)),
      rulesDir = Some(rulesDir),
      apiMode = apiMode,
      uiEnabled = uiEnabled,
      traceDetail = !f.bools.contains("--no-trace-detail"))
    try {
      val server = graft.endpoint.UiServer.start(session, config)
      out.println(s"rulemorph server listening on http://127.0.0.1:${server.getAddress.getPort}")
      Thread.currentThread.join() // serve until killed
      0
    } catch {
      case NonFatal(e) => err.println(s"server error: ${e.getMessage}"); 1
    }
  }

  /** `validate-rules-dir -r <dir>` — validate endpoint.yaml and every rule
    * file it references (exit 0 clean, 2 with errors — main.rs:182-191). */
  private def runValidateRulesDir(f: Flags, err: PrintStream): Int = {
    val dir = f.opts.get("--rules-dir").orElse(f.opts.get("--rules")) match {
      case Some(p) => Paths.get(p)
      case None => err.println("failed to read rules dir: --rules-dir is required"); return 1
    }
    val errors = graft.endpoint.RulesDirValidator.validate(dir)
    if (errors.isEmpty) 0
    else {
      errors.foreach(e => err.println(e.render))
      2
    }
  }

  /** `serve -r endpoints.yaml [--port N] [--no-trace-detail]` — run the
    * endpoint engine over the JDK HttpServer until interrupted.
    * `--no-trace-detail` disables rich per-request trace capture and
    * keeps the flat trace. */
  private def runServe(f: Flags, out: PrintStream, err: PrintStream): Int = {
    val rules = f.opts.get("--rules") match {
      case Some(p) => p
      case None => err.println("failed to read rules: --rules is required"); return 1
    }
    val port = f.opts.get("--port").flatMap(_.toIntOption).getOrElse(8080)
    try {
      val server = graft.endpoint.Server.start(session, rules, port,
        traceDetail = !f.bools.contains("--no-trace-detail"))
      out.println(s"listening on http://127.0.0.1:${server.getAddress.getPort}")
      Thread.currentThread.join() // serve until killed
      0
    } catch {
      case NonFatal(e) => err.println(s"server error: ${e.getMessage}"); 1
    }
  }

  /** clap-style flags: every option takes a value except the booleans. */
  private case class Flags(opts: Map[String, String], bools: Set[String])

  private val boolFlags =
    Set("--ndjson", "-v", "--validate", "--no-ui", "--no-trace-detail")
  private val aliases = Map(
    "-r" -> "--rules", "-i" -> "--input", "-f" -> "--format",
    "-c" -> "--context", "-o" -> "--output", "-e" -> "--error-format",
    "-l" -> "--lang", "-n" -> "--name", "-v" -> "--validate")

  private def parseFlags(args: Seq[String]): Flags = {
    var opts = Map.empty[String, String]
    var bools = Set.empty[String]
    var rest = args
    while (rest.nonEmpty) {
      val flag = rest.head
      val name = aliases.getOrElse(flag, flag)
      if (boolFlags.contains(flag) || boolFlags.contains(name)) {
        bools += name
        rest = rest.tail
      } else {
        opts += name -> rest.drop(1).headOption.getOrElse("")
        rest = rest.drop(2)
      }
    }
    Flags(opts, bools)
  }

  private def errorFormat(f: Flags): String = f.opts.getOrElse("--error-format", "text")

  // -- loading ------------------------------------------------------------

  private def loadRule(f: Flags, err: PrintStream): Either[Int, (RuleFile, String, Path)] = {
    val path = f.opts.get("--rules") match {
      case Some(p) => Paths.get(p)
      case None => err.println("failed to read rules: --rules is required"); return Left(1)
    }
    val yaml =
      try Files.readString(path)
      catch { case NonFatal(e) => err.println(s"failed to read rules: $e"); return Left(1) }
    val rule =
      try YamlParser.parse(yaml)
      catch { case NonFatal(e) => err.println(s"failed to parse rules: ${e.getMessage}"); return Left(1) }
    Right((applyFormatOverride(rule, f), yaml, path))
  }

  private def applyFormatOverride(rule: RuleFile, f: Flags): RuleFile =
    f.opts.get("--format") match {
      case Some(fmt) => rule.copy(input = rule.input.copy(format = fmt))
      case None => rule
    }

  private def loadContext(f: Flags, err: PrintStream): Either[Int, JValue] =
    f.opts.get("--context") match {
      case None => Right(JNull)
      case Some(p) =>
        val text =
          try Files.readString(Paths.get(p))
          catch { case NonFatal(e) => err.println(s"failed to read context: $e"); return Left(1) }
        try Right(jsonToJValue(mapper.readTree(text)))
        catch { case NonFatal(e) => err.println(s"failed to parse context JSON: ${e.getMessage}"); return Left(1) }
    }

  /** The rule value of a JSON tree; an integer beyond the long range is a
    * double, as JSON ingest types it. */
  def jsonToJValue(n: JsonNode): JValue = {
    import scala.jdk.CollectionConverters._
    if (n.isNull) JNull
    else if (n.isBoolean) JBool(n.asBoolean)
    else if (n.isIntegralNumber && n.canConvertToLong) JLong(n.asLong)
    else if (n.isNumber) JDouble(n.asDouble)
    else if (n.isTextual) JString(n.asText)
    else if (n.isArray) JArray(n.elements.asScala.toSeq.map(jsonToJValue))
    else JObject(n.properties.asScala.toSeq.map(e => e.getKey -> jsonToJValue(e.getValue)))
  }

  /** One lazily-built local session shared by all CLI invocations in this
    * JVM (tests); a real deployment would spark-submit against a cluster
    * with the same code path. */
  private lazy val session: SparkSession =
    Sessions.local(4, "ERROR", sys.env.get("SPARK_GRAFT_MASTER"))

  // -- subcommands --------------------------------------------------------

  private def runValidate(f: Flags, err: PrintStream): Int =
    loadRule(f, err) match {
      case Left(code) => code
      case Right((_, yaml, _)) =>
        val errors = Validator.validate(yaml)
        if (errors.isEmpty) 0
        else { emit(errors, f, err); 2 }
    }

  private def runPreflight(f: Flags, err: PrintStream): Int =
    running(f, err, "preflight", validate = false) { run =>
      emit(run.preflight(), f, err)
      0
    }

  private def runTransform(f: Flags, out: PrintStream, err: PrintStream): Int =
    running(f, err, "transform", validate = f.bools.contains("--validate")) { run =>
      if (f.bools.contains("--ndjson")) writeNdjson(run, f, out, err)
      else {
        val batch = run.batch()
        // reference emission order (main.rs:288-305): warnings on stderr
        // BEFORE the output write
        emit(batch.warnings, f, err)
        writeOut(batch.text, f, out, err)
      }
    }

  /** The run of `-r` over `-i` with `-c` (validated first when `validate`),
    * passed to `body` under [[ExprCompiler.RmError.recover]]: a rule error
    * prints its diagnostic, any other failure `<what> failed: <message>`,
    * both exit 3. A flag or file that fails before the run exits 1, and
    * validation errors exit 2. */
  private def running(f: Flags, err: PrintStream, what: String, validate: Boolean)(
      body: Engine.FileRun => Int): Int = {
    val (rule, yaml, rulesPath) = loadRule(f, err) match {
      case Left(code) => return code
      case Right(loaded) => loaded
    }
    if (validate) {
      val errors = Validator.validate(yaml)
      if (errors.nonEmpty) { emit(errors, f, err); return 2 }
    }
    val inputPath = f.opts.get("--input") match {
      case Some(p) => p
      case None => err.println("failed to read input: --input is required"); return 1
    }
    if (!Files.exists(Paths.get(inputPath))) {
      err.println(s"failed to read input: $inputPath not found"); return 1
    }
    val context = loadContext(f, err) match {
      case Left(code) => return code
      case Right(v) => v
    }
    val run = Engine.FileRun(session, rule, inputPath, context, Engine.loaderBeside(rulesPath))
    try ExprCompiler.RmError.recover(body(run))
    catch {
      case e: ExprCompiler.RmError => emit(Seq(e), f, err); 3
      case NonFatal(e) => err.println(s"$what failed: ${e.getMessage}"); 3
    }
  }

  /** Reference run_transform_ndjson (main.rs:310-385): the per-item
    * stream shape — each item's warnings hit stderr before its output
    * line (dropped items emit warnings only), so json error format
    * produces one array PER warned item, not one combined array.
    * finalize is rejected before the output file opens. */
  private def writeNdjson(run: Engine.FileRun, f: Flags, out: PrintStream,
      err: PrintStream): Int = {
    val items = run.ndjson()
    // each line is written the moment it is produced — the point of the
    // toLocalIterator stream shape (one sorted partition resident at a
    // time, never the whole output), and the reference's mid-stream-error
    // semantics (BufWriter flush on drop, main.rs:350-377): lines already
    // written stay written when an error surfaces mid-iteration
    val fileWriter =
      try f.opts.get("--output").map { p =>
        val path = Paths.get(p)
        Option(path.getParent).foreach(Files.createDirectories(_))
        Files.newBufferedWriter(path)
      } catch { case NonFatal(e) => err.println(s"failed to write output: $e"); return 1 }
    try {
      items.foreach { case (line, warnings) =>
        emit(warnings, f, err)
        line.foreach(l => fileWriter match {
          case Some(w) => w.write(l); w.newLine()
          case None => out.println(l)
        })
      }
      0
    } finally fileWriter.foreach(w =>
      try w.close() catch { case NonFatal(e) => err.println(s"failed to write output: $e") })
  }

  private def runGenerate(f: Flags, out: PrintStream, err: PrintStream): Int =
    loadRule(f, err) match {
      case Left(code) => code
      case Right((rule, _, _)) =>
        val lang = f.opts.get("--lang").flatMap(DtoGenerator.language) match {
          case Some(l) => l
          case None => err.println(s"failed to generate dto: unknown language ${f.opts.getOrElse("--lang", "(none)")}"); return 1
        }
        try writeOut(DtoGenerator.generate(rule, lang, f.opts.get("--name")), f, out, err)
        catch { case NonFatal(e) => err.println(s"failed to generate dto: ${e.getMessage}"); 1 }
    }

  private def writeOut(text: String, f: Flags, out: PrintStream, err: PrintStream): Int =
    f.opts.get("--output") match {
      case Some(p) =>
        try {
          val path = Paths.get(p)
          Option(path.getParent).foreach(Files.createDirectories(_))
          Files.writeString(path, text)
          0
        } catch { case NonFatal(e) => err.println(s"failed to write output: $e"); 1 }
      case None => out.println(text); 0
    }

  /** Diagnostics on stderr (main.rs:572-701): with `-e json` one array of
    * their JSON objects, else one text line each; nothing when empty. */
  private def emit(ds: Seq[Diagnostic], f: Flags, err: PrintStream): Unit =
    if (ds.nonEmpty) {
      if (errorFormat(f) == "json") err.println(ds.map(_.json).mkString("[", ",", "]"))
      else ds.foreach(d => err.println(d.line))
    }
}
